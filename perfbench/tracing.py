"""Spans around the calls into each layer, recorded from outside the package.

A traced run wraps the package's public functions (see ``instrument``)
and a ``RefStore`` subclass; every wrapped call records a span (name,
start, end, parent, op id). Spans stay in memory and are reduced to the
per-layer metrics at the end of the run (``layer_metrics``). Spark jobs
are attributed to an operation through a per-op job group, which
``InheritableThread`` children inherit.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import itertools
import os
import threading
import time
import uuid
from typing import Any, Callable

from no_jvm_wap_with_iceberg_spark.catalog.store import LocalFSStore


@dataclasses.dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    op: int | None
    end: float = 0.0
    attrs: dict[str, Any] = dataclasses.field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder with one open operation at a time."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: Span | None = None
        self._patches: list[tuple[Any, str, Any]] = []
        self._group = f"perfbench-{uuid.uuid4().hex[:8]}"

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # a span opened on a thread the package started (overlap_actions,
        # append_many) has an empty stack: its parent is the open op
        parent = stack[-1] if stack else self._op
        s = Span(
            next(self._ids),
            name,
            time.perf_counter(),
            parent.sid if parent else None,
            self._op.sid if self._op else None,
            attrs=attrs,
        )
        stack.append(s)
        try:
            yield s
        except BaseException as exc:
            s.attrs["error"] = type(exc).__name__
            raise
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    @contextlib.contextmanager
    def op(self, kind: str):
        """Root span of one timed operation; its Spark jobs carry the
        op's job group so ``statusTracker`` can count them."""
        sc = self.spark.sparkContext
        with self.span(f"op.{kind}") as root:
            self._op = root
            group = f"{self._group}-op-{root.sid}"
            sc.setJobGroup(group, kind)
            try:
                yield root
            finally:
                self._op = None
                sc.setLocalProperty("spark.jobGroup.id", None)
                root.attrs.update(_job_counts(sc, group))

    # -- wrapping ------------------------------------------------------
    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        on_result: Callable[[Span, tuple, dict, Any], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper; classmethods
        stay classmethods. ``restore`` undoes every wrap."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, args, kwargs, out)
                return out

        setattr(owner, attr, kind(wrapper) if kind else wrapper)
        self._patches.append((owner, attr, raw))

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()


def _job_counts(sc, group: str) -> dict[str, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return {"spark_jobs": len(jobs), "spark_tasks": tasks}


class TracedStore(LocalFSStore):
    """``LocalFSStore`` whose primitives record spans; ``put`` records
    the bytes that landed and ``put_if`` whether the CAS was lost."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def get(self, key):
        with self.tracer.span("store.get", key=key):
            return super().get(key)

    def put(self, key, payload):
        with self.tracer.span("store.put", key=key) as s:
            super().put(key, payload)
            s.attrs["bytes"] = os.path.getsize(self._path(key))

    def put_if(self, key, payload, token):
        with self.tracer.span("store.put_if", key=key) as s:
            ok = super().put_if(key, payload, token)
            s.attrs["lost"] = not ok
            return ok


# ----------------------------------------------------------------------
# what is wrapped, per layer
# ----------------------------------------------------------------------
def instrument(tracer: Tracer) -> None:
    """Wrap the public calls of every measured layer (module · calls)."""
    from no_jvm_wap_with_iceberg_spark.catalog import catalog, keyprobe, table
    from no_jvm_wap_with_iceberg_spark.wap import checks, pipeline

    Cat = catalog.Catalog
    # catalog.table: metadata encode/decode
    tracer.wrap(table.TableMetadata, "to_json", "metadata.encode")
    tracer.wrap(table.TableMetadata, "from_json", "metadata.decode")
    # catalog.catalog refs/commit, write, read
    for fn in ("create_branch", "merge", "drop_branch"):
        tracer.wrap(Cat, fn, f"commit.{fn}")
    tracer.wrap(Cat, "append", "write.append", _record_append)
    for fn in ("read", "read_incremental", "create_views"):
        tracer.wrap(Cat, fn, f"read.{fn}")
    # wap.checks (one span name per class) and wap.pipeline
    for cls, short in (
        (checks.NotNullCheck, "not_null"),
        (checks.RangeCheck, "range"),
        (checks.UniqueCheck, "unique"),
    ):
        tracer.wrap(cls, "run", f"audit.{short}", _record_check)
    tracer.wrap(pipeline.WapPipeline, "run_batch", "wap.run_batch", _record_attempt)
    # catalog.keyprobe: the probe kernels are imported at call time
    tracer.wrap(keyprobe, "probe_files_local", "keyprobe.local", _record_probe)
    tracer.wrap(keyprobe, "probe_files_spark", "keyprobe.spark", _record_probe)
    # catalog.pruning: catalog.catalog binds the names at import
    for fn in ("prune_files", "prune_files_any"):
        tracer.wrap(catalog, fn, f"pruning.{fn}", _record_prune)
    # catalog.sqldml front door and maintenance
    tracer.wrap(Cat, "sql", "sql.frontdoor")
    tracer.wrap(Cat, "merge_into", "merge.merge_into")
    tracer.wrap(Cat, "maintain", "maintain.maintain", _record_maintain)


def _record_append(s: Span, args, kwargs, meta) -> None:
    snap = meta.snapshot()
    added = snap.added_files if snap is not None else []
    s.attrs["files"] = len(added)
    s.attrs["bytes"] = sum(f.bytes for f in added)
    s.attrs["rows"] = sum(f.rows for f in added)


def _record_check(s: Span, args, kwargs, result) -> None:
    srcs = [d.get("source") for d in result.detail.values() if isinstance(d, dict)]
    s.attrs["metadata_answered"] = bool(srcs) and all(x == "metadata" for x in srcs)


def _record_attempt(s: Span, args, kwargs, result) -> None:
    s.attrs["published"] = result.published
    s.attrs["exhausted"] = "publish" in result.failed_checks


def _record_probe(s: Span, args, kwargs, admitted) -> None:
    s.attrs["candidates"] = len(args[-1])  # both kernels take candidates last
    s.attrs["admitted"] = len(admitted)


def _record_prune(s: Span, args, kwargs, kept) -> None:
    s.attrs["files_in"] = len(args[0])
    s.attrs["files_kept"] = len(kept)


def _record_maintain(s: Span, args, kwargs, report) -> None:
    s.attrs.update(
        files_before=report["files_before"], files_after=report["files_after"]
    )
