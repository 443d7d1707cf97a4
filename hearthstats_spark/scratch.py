"""Per-call scratch state: one lifecycle for the side-effect and
streaming ops.

``register``'s wrapper runs every registered call inside
``workspace(spark, name)``. An op asks the current workspace for a
fresh directory with ``path(sub)`` and for a memory-sink query name
with ``table(prefix)``. The workspace makes its ``hs_<name>_*``
directory under the temp dir on the first ``path`` call; when the call
returns, it drops the memory-sink views it named and removes the
directory. A call that asks for neither costs one context-variable
set and reset.

So an op's result must read nothing under its workspace:

- a summary row is a local relation (``io.local_frame``);
- a memory-sink frame (``spark.table(name)``) keeps its rows after
  its view is dropped and the checkpoint is removed;
- a frame over parquet written in the workspace is
  ``localCheckpoint``-ed before it is returned.

The workspace lives in a ``ContextVar``, which a foreachBatch callback
(run on the stream thread) cannot see: resolve every path on the op's
thread before ``start()``.
"""

from __future__ import annotations

import contextlib
import contextvars
import shutil
import tempfile
import uuid
from collections.abc import Iterator

from pyspark.sql import SparkSession


class _Workspace:
    def __init__(self, name: str):
        self.name = name
        self.root: str | None = None
        self.tables: list[str] = []


_CURRENT: contextvars.ContextVar[_Workspace | None] = contextvars.ContextVar(
    "hearthstats_scratch", default=None)


@contextlib.contextmanager
def workspace(spark: SparkSession, name: str) -> Iterator[None]:
    """Scope ``path``/``table`` to one call; drop its memory-sink views
    and remove its directory on exit. Workspaces nest: an inner one
    cleans up only what was asked of it."""
    ws = _Workspace(name)
    token = _CURRENT.set(ws)
    try:
        yield
    finally:
        _CURRENT.reset(token)
        for t in ws.tables:
            spark.catalog.dropTempView(t)
        if ws.root is not None:
            shutil.rmtree(ws.root, ignore_errors=True)


def _current() -> _Workspace:
    ws = _CURRENT.get()
    if ws is None:
        raise RuntimeError(
            "no scratch workspace: call through the registry, or open "
            "`with scratch.workspace(spark, name)` yourself")
    return ws


def path(sub: str) -> str:
    """A fresh empty directory ``<sub>_*`` in the current workspace."""
    ws = _current()
    if ws.root is None:
        ws.root = tempfile.mkdtemp(prefix=f"hs_{ws.name}_")
    return tempfile.mkdtemp(prefix=f"{sub}_", dir=ws.root)


def table(prefix: str) -> str:
    """A session-unique memory-sink query name ``<prefix>_*``; its temp
    view is dropped when the workspace exits."""
    ws = _current()
    name = f"{prefix}_{uuid.uuid4().hex[:12]}"
    ws.tables.append(name)
    return name
