"""Reduce a traced run's spans to per-layer metrics.

A layer is the first part of a span name (``store``, ``metadata``,
``commit``, ``write``, ``audit``, ``wap``, ``keyprobe``, ``read``,
``pruning``, ``sql``, ``merge``, ``maintain``). Self time is a span's
duration minus the part of it its direct children cover; the op root's
self time is the time no wrapped layer claims (``spark.unattributed``:
Spark actions issued outside the wrapped calls, plus glue). Only spans
of timed operations count.
"""

from __future__ import annotations

import collections
import json
import os

from tracing import Span, Tracer


def _covered(s: Span, kids: list[Span]) -> float:
    """Length of the union of the children's intervals inside ``s``."""
    spans = sorted((max(k.start, s.start), min(k.end, s.end)) for k in kids)
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in spans:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    kids: dict[int, list[Span]] = collections.defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return {s.sid: s.dur - _covered(s, kids[s.sid]) for s in spans}


def layer_metrics(tracer: Tracer, client, session_s: float):
    """(per-layer metrics as ``{name: (value, unit)}``, per-op-type breakdown)."""
    roots = {s.sid: s for s in tracer.spans if s.name.startswith("op.")}
    spans = [s for s in tracer.spans if s.sid in roots or s.op in roots]
    by_sid = {s.sid: s for s in spans}
    selfs = self_times(spans)

    def op_of(s: Span) -> str:
        return roots[s.sid if s.sid in roots else s.op].name[3:]

    def named(prefix: str, ops: tuple[str, ...] | None = None) -> list[Span]:
        return [
            s
            for s in spans
            if s.name.startswith(prefix) and (ops is None or op_of(s) in ops)
        ]

    def self_sum(prefix: str, ops=None) -> float:
        return sum(selfs[s.sid] for s in named(prefix, ops))

    def per(x: float, n: int) -> float:
        return x / n if n else 0.0

    n_ops = len(roots)
    n_op = collections.Counter(r.name[3:] for r in roots.values())
    n_pub, n_merge = n_op["publish"], n_op["merge"]
    files_ops = ("publish", "quarantine")

    store = [s for s in named("store.") if not by_sid.get(s.parent, s).name.startswith("store.")]
    puts = named("store.put")
    meta_puts = [s for s in puts if "/metadata/" in s.attrs.get("key", "")]
    appends = named("write.append", ("publish",))
    audits = named("audit.")
    attempts = named("wap.run_batch", files_ops)
    probes = named("keyprobe.")
    prunes = named("pruning.")
    scans = [r for r in roots.values() if r.name == "op.scan"]
    maints = [r for r in roots.values() if r.name == "op.maintain"]
    maint_spans = named("maintain.")

    m = {
        "session.start_s": (session_s, "s"),
        "store.calls_per_op": (per(len(store), n_ops), "count"),
        "store.self_s_per_op": (per(self_sum("store."), n_ops), "s"),
        "store.put_bytes_per_op": (per(sum(s.attrs.get("bytes", 0) for s in puts), n_ops), "B"),
        "store.cas_lost_per_op": (per(sum(1 for s in named("store.put_if") if s.attrs["lost"]), n_ops), "count"),
        "metadata.encode_s_per_commit": (per(self_sum("metadata.encode"), len(meta_puts)), "s"),
        "metadata.decode_s_per_op": (per(self_sum("metadata.decode"), n_ops), "s"),
        "metadata.bytes_per_commit": (per(sum(s.attrs["bytes"] for s in meta_puts), len(meta_puts)), "B"),
        "commit.self_s_per_publish": (per(self_sum("commit.", ("publish",)), n_pub), "s"),
        "commit.conflicts_per_publish": (
            per(sum(1 for s in named("commit.merge") if s.attrs.get("error") == "CommitConflict"), n_pub),
            "count",
        ),
        "write.self_s_per_publish": (per(sum(selfs[s.sid] for s in appends), n_pub), "s"),
        "write.files_per_publish": (per(sum(s.attrs["files"] for s in appends), n_pub), "count"),
        "write.bytes_per_row": (
            per(sum(s.attrs["bytes"] for s in appends), sum(s.attrs["rows"] for s in appends)),
            "B/row",
        ),
        "audit.self_s_per_publish": (per(self_sum("audit.", ("publish",)), n_pub), "s"),
        "audit.metadata_answered_ratio": (
            per(sum(1 for s in audits if s.attrs.get("metadata_answered")), len(audits)),
            "ratio",
        ),
        "wap.attempts_per_file": (per(len(attempts), n_op["publish"] + n_op["quarantine"]), "count"),
        "wap.retries_exhausted": (
            sum(1 for s in attempts if s.attrs.get("exhausted") and by_sid[s.parent].name.startswith("op.")),
            "count",
        ),
        # a count, not a time: on wap_trickle stats rule every file out
        # before the probe, and a time reading 0 on every run measures nothing
        "keyprobe.calls_per_merge": (per(len(named("keyprobe.", ("merge",))), n_merge), "count"),
        "keyprobe.files_admitted_ratio": (
            per(sum(s.attrs["admitted"] for s in probes), sum(s.attrs["candidates"] for s in probes)),
            "ratio",
        ),
        "read.plan_s_per_op": (per(self_sum("read."), n_ops), "s"),
        "read.files_per_scan": (per(sum(r.attrs["files"] for r in scans), len(scans)), "count"),
        "read.pending_delete_specs": (
            per(sum(r.attrs["pending_delete_specs"] for r in scans), len(scans)),
            "count",
        ),
        "pruning.calls_per_op": (per(len(prunes), n_ops), "count"),
        # no call prunes nothing: every file is kept
        "pruning.files_kept_ratio": (
            per(sum(s.attrs["files_kept"] for s in prunes), sum(s.attrs["files_in"] for s in prunes))
            if prunes
            else 1.0,
            "ratio",
        ),
        "sql.frontdoor_s_per_op": (per(self_sum("sql."), n_op["scan"] + n_op["lookup"]), "s"),
        "merge.self_s_per_merge": (per(self_sum("merge."), n_merge), "s"),
        "maintain.self_s": (per(sum(selfs[s.sid] for s in maint_spans), len(maints)), "s"),
        "maintain.bytes_rewritten": (per(sum(r.attrs["bytes_rewritten"] for r in maints), len(maints)), "B"),
        "maintain.files_before": (per(sum(s.attrs["files_before"] for s in maint_spans), len(maints)), "count"),
        "maintain.files_after": (per(sum(s.attrs["files_after"] for s in maint_spans), len(maints)), "count"),
        "spark.jobs_per_op": (per(sum(r.attrs["spark_jobs"] for r in roots.values()), n_ops), "count"),
        "spark.tasks_per_op": (per(sum(r.attrs["spark_tasks"] for r in roots.values()), n_ops), "count"),
        "spark.unattributed_s_per_op": (per(sum(selfs[r] for r in roots), n_ops), "s"),
    }
    return m, breakdown(spans, roots, selfs, attempts, audits, probes, prunes)


def breakdown(spans, roots, selfs, attempts, audits, probes, prunes) -> dict:
    """Per op type: wall per op, self time per layer per op, and how the
    layer self times plus the unattributed rest reconcile with wall time
    (1.0 when no two layers of one op ran at once)."""
    out: dict[str, dict] = {}
    by_type: dict[str, list[Span]] = collections.defaultdict(list)
    for r in roots.values():
        by_type[r.name[3:]].append(r)
    for kind, rs in sorted(by_type.items()):
        ids = {r.sid for r in rs}
        layer: dict[str, float] = collections.Counter()
        for s in spans:
            if s.op in ids:
                layer[s.name.split(".")[0]] += selfs[s.sid]
        n = len(rs)
        wall = sum(r.dur for r in rs)
        unattributed = sum(selfs[r.sid] for r in rs)
        out[kind] = {
            "n": n,
            "wall_s_per_op": wall / n,
            "self_s_per_op": {k: v / n for k, v in sorted(layer.items())},
            "spark.unattributed_s_per_op": unattributed / n,
            "reconcile": (sum(layer.values()) + unattributed) / wall,
            "spark_jobs_per_op": sum(r.attrs["spark_jobs"] for r in rs) / n,
        }
    out["audit_self_s_by_check"] = {
        n: sum(selfs[s.sid] for s in audits if s.name == n)
        for n in sorted({s.name for s in audits})
    }
    wasted = 0.0
    kids = collections.defaultdict(list)
    for s in attempts:
        kids[s.parent].append(s)
    for s in attempts:
        wasted += sum(s.dur - k.dur for k in kids[s.sid])
    out["wap.wasted_s"] = wasted
    out["keyprobe.calls"] = collections.Counter(s.name for s in probes)
    return out


def overhead(traced: dict[str, float], untraced_file: str) -> dict[str, float] | None:
    """Traced / untraced - 1 per end-to-end metric, against the untraced
    run of the same workload and seed when its detail file exists."""
    if not os.path.exists(untraced_file):
        return None
    with open(untraced_file) as fh:
        base = json.load(fh)["e2e"]
    return {k: traced[k] / base[k] - 1.0 for k in traced if base.get(k)}
