"""Workload plans and the closed-loop client that times them.

A plan is built in set-up from the seed alone: it lands every input
file and lists the steps. Seeding and warm-up steps run untimed; the
timed steps run one after another from one client, each call timed on
its own and kept in the latency series of its operation type. After
each step (outside its timing) the result is checked against a DuckDB
replay of the same landed files.
"""

from __future__ import annotations

import contextlib
import dataclasses
import math
import os
import time
from typing import Any

import numpy as np

import data
from replay import Replay
from stats import Series

# Operation counts per timed second of ``--seconds`` (fixed counts for a
# given ``--seconds``: never a fixed duration). Measured on 4 cores with
# Spark on 2.
TRICKLE_FILES_PER_S = 0.86
TRICKLE_FILES_PER_READ = 3  # a read point after every 3 files
TRICKLE_MERGES_PER_S = 0.23  # spread evenly among the files
TRICKLE_MERGE_ROWS = 60
TRICKLE_DIRTY_EVERY = 3  # every 3rd file carries the reference's null row
UPSERT_CYCLES_PER_S = 0.171  # each cycle lands one clean and one dirty file
# Reads change nothing, so a wap_trickle read point repeats its scan and
# its lookup. The host alone moves one call's latency by ~15% from
# second to second; the median of more samples, spread over the whole
# run, repeats across runs.
TRICKLE_SCANS_PER_READ = 3
TRICKLE_LOOKUPS_PER_READ = 2


@dataclasses.dataclass
class Step:
    op: str  # publish | quarantine | merge | scan | lookup | maintain
    path: str | None = None
    sql: str | None = None


@dataclasses.dataclass
class Plan:
    table: str
    key: list[str]
    checks: list[Any]
    expected_failure: str  # the check a dirty file must fail
    seed_steps: list[Step]
    warm_steps: list[Step]
    steps: list[Step]


def _counts(seconds: int, per_s: float, floor: int) -> int:
    return max(floor, round(seconds * per_s))


# ----------------------------------------------------------------------
# plans
# ----------------------------------------------------------------------
def plan_wap_trickle(land: data.Landing, seed: int, seconds: int) -> Plan:
    """Reference-shaped 1,000-row files into one table that is never
    maintained during the loop, with merges spread among them and one
    maintenance window last. Merges insert new keys only: they add no
    merge-on-read delete, so every merge and scan sees the same kind of
    table."""
    from no_jvm_wap_with_iceberg_spark.wap.checks import NotNullCheck

    rng = np.random.default_rng(seed)
    n_files = _counts(seconds, TRICKLE_FILES_PER_S, 2 * TRICKLE_FILES_PER_READ)
    n_merges = _counts(seconds, TRICKLE_MERGES_PER_S, 2)

    def file_step(i: int, dirty: bool) -> Step:
        t = data.trickle_file(rng, 1000, dirty)
        return Step("quarantine" if dirty else "publish", land.land(f"f{i:05d}", t))

    def read_steps() -> list[Step]:
        lo = int(rng.integers(1, data._MAX_INT - 20_000))
        lookup = Step(
            "lookup",
            sql="SELECT COUNT(*), SUM(my_col_2) FROM trickle "
            f"WHERE my_col_0 BETWEEN {lo} AND {lo + 20_000}",
        )
        return [Step("scan", sql=TRICKLE_SCAN)] * TRICKLE_SCANS_PER_READ + [
            lookup
        ] * TRICKLE_LOOKUPS_PER_READ

    def merge_step(i: int) -> Step:
        cs = data.trickle_change_set(rng, TRICKLE_MERGE_ROWS, i)
        return Step("merge", land.land(f"m{i:05d}", cs))

    seed_steps = [file_step(0, False)]
    # two warm merges: the first timed one was still ~30% slower after one
    warm = [
        file_step(1, False),
        file_step(2, True),
        *read_steps(),
        merge_step(0),
        merge_step(1),
        Step("maintain"),
    ]
    # merges spread over the whole run, so a slow spell of the host hits
    # them no more than any other op type; the last follows the last file
    merge_after = {round((j + 1) * n_files / n_merges) - 1 for j in range(n_merges)}
    steps: list[Step] = []
    merges = 2  # change sets 0 and 1 warm up
    for i in range(n_files):
        steps.append(file_step(3 + i, (i + 1) % TRICKLE_DIRTY_EVERY == 0))
        if (i + 1) % TRICKLE_FILES_PER_READ == 0:
            steps.extend(read_steps())
        if i in merge_after:
            steps.append(merge_step(merges))
            merges += 1
    steps.append(Step("maintain"))
    return Plan(
        table="trickle",
        key=["my_col_0"],
        # the reference's audit: no NULLs in my_col_1 (app.py:213)
        checks=[NotNullCheck("my_col_1")],
        expected_failure="not_null(my_col_1)",
        seed_steps=seed_steps,
        warm_steps=warm,
        steps=steps,
    )


# the reference's aggregate (README.md:206)
TRICKLE_SCAN = "SELECT SUM(my_col_0), AVG(my_col_2), COUNT(*) FROM trickle"
UPSERT_SCAN = (
    "SELECT l_returnflag, l_linestatus, SUM(l_quantity), SUM(l_extendedprice), "
    "AVG(l_discount), COUNT(*) FROM lineitem GROUP BY l_returnflag, l_linestatus "
    "ORDER BY l_returnflag, l_linestatus"
)
UPSERT_BASE_ORDERS = 10_000  # one 40,000-row seed file
UPSERT_BATCH_ORDERS = 2_000  # 8,000-row landed files
UPSERT_MERGE_UPDATES = 800
UPSERT_MERGE_INSERT_ORDERS = 20


def plan_lake_upsert(land: data.Landing, seed: int, seconds: int) -> Plan:
    """A lineitem-shaped table: large audited appends, keyed merges of
    late corrections, an aggregate scan, a pruned key-range lookup, and
    one maintenance window last."""
    from no_jvm_wap_with_iceberg_spark.wap.checks import (
        NotNullCheck,
        RangeCheck,
        UniqueCheck,
    )

    rng = np.random.default_rng(seed)
    cycles = _counts(seconds, UPSERT_CYCLES_PER_S, 2)
    next_order = 1
    n_landed = 0

    def take(orders: int) -> int:
        nonlocal next_order
        first, next_order = next_order, next_order + orders
        return first

    published: list[int] = []  # first order key of every published file

    def batch_step(dirty: bool) -> Step:
        nonlocal n_landed
        first = take(UPSERT_BATCH_ORDERS)
        t = data.lineitem_rows(rng, first, UPSERT_BATCH_ORDERS)
        if dirty:
            t = data.lineitem_dirty(t, rng)
        else:
            published.append(first)
        n_landed += 1
        return Step("quarantine" if dirty else "publish", land.land(f"b{n_landed:05d}", t))

    def cycle_steps(reads: bool = True) -> list[Step]:
        out = [batch_step(False), batch_step(True)]
        # late corrections to the batch just published: every merge
        # touches exactly one existing file, whatever the seed
        latest = np.arange(published[-1], published[-1] + UPSERT_BATCH_ORDERS, dtype=np.int64)
        cs = data.lineitem_change_set(
            rng, latest, UPSERT_MERGE_UPDATES, UPSERT_MERGE_INSERT_ORDERS, take(UPSERT_MERGE_INSERT_ORDERS)
        )
        lo = int(rng.choice(published)) + int(rng.integers(0, UPSERT_BATCH_ORDERS - 40))
        out.append(Step("merge", land.land(f"m{n_landed:05d}", cs)))
        if reads:
            out += [
                Step("scan", sql=UPSERT_SCAN),
                Step(
                    "lookup",
                    sql="SELECT COUNT(*), SUM(l_extendedprice), MAX(l_comment) FROM lineitem "
                    f"WHERE l_orderkey BETWEEN {lo} AND {lo + 40}",
                ),
            ]
        return out

    published.append(take(UPSERT_BASE_ORDERS))
    base = data.lineitem_rows(rng, published[0], UPSERT_BASE_ORDERS)
    seed_steps = [Step("publish", land.land("base", base))]
    # a second warm cycle, without its reads to save time: after one,
    # publish and merge latency still fell ~35% over the first timed
    # cycles as the JVM kept compiling
    warm = cycle_steps() + cycle_steps(reads=False) + [Step("maintain")]
    steps: list[Step] = []
    for _ in range(cycles):
        steps += cycle_steps()
    steps.append(Step("maintain"))
    return Plan(
        table="lineitem",
        key=list(data.LINEITEM_KEY),
        checks=[
            NotNullCheck(*data.LINEITEM_KEY),
            RangeCheck("l_quantity", *data.QUANTITY_RANGE),
            UniqueCheck(*data.LINEITEM_KEY),
        ],
        expected_failure="unique(l_orderkey,l_linenumber)",
        seed_steps=seed_steps,
        warm_steps=warm,
        steps=steps,
    )


PLANS = {"wap_trickle": plan_wap_trickle, "lake_upsert": plan_lake_upsert}


# ----------------------------------------------------------------------
# the client
# ----------------------------------------------------------------------
class Client:
    """Runs plan steps against one catalog, times each call, and checks
    each result against the replay."""

    def __init__(self, spark, catalog, plan: Plan, tracer=None):
        from no_jvm_wap_with_iceberg_spark.wap.pipeline import WapPipeline

        self.spark = spark
        self.cat = catalog
        self.plan = plan
        self.tracer = tracer
        self.alerts: list[str] = []
        self.pipe = WapPipeline(
            catalog,
            plan.table,
            plan.checks,
            alert=lambda branch, _results: self.alerts.append(branch),
        )
        self.replay = Replay(plan.table, plan.key)
        self.series = Series()
        self.attempted = 0
        self.failures: list[str] = []
        self.open_branches: list[tuple[str, int]] = []
        self.rows_published = 0  # rows made visible on main by timed steps
        self.busy_s = 0.0  # summed wall time of timed steps
        self.maintain_reports: list[dict[str, Any]] = []
        self.setup_log: list[tuple[str, float]] = []  # untimed steps

    # one step ---------------------------------------------------------
    def run(self, step: Step, timed: bool) -> None:
        traced = self.tracer is not None and timed
        files_before = self._live_files() if traced else None
        ctx = self.tracer.op(step.op) if traced else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with ctx as root:
                result = self._call(step)
        except Exception as exc:  # noqa: BLE001 - counted, the loop goes on
            if not timed:
                raise
            self.busy_s += time.perf_counter() - t0
            self.attempted += 1
            self.failures.append(f"{step.op}: {type(exc).__name__}: {exc}")
            return
        seconds = time.perf_counter() - t0
        if traced:
            self._observe(step, root, files_before)
        visible_before = self.replay.rows()
        problem = self._check(step, result)
        if not timed:
            if problem:
                raise RuntimeError(f"set-up step {step.op} failed: {problem}")
            self.setup_log.append((step.op, seconds))
            return
        self.attempted += 1
        self.busy_s += seconds
        if problem:
            self.failures.append(f"{step.op}: {problem}")
            return
        self.series.add(step.op, seconds)
        self.rows_published += self.replay.rows() - visible_before

    def _live_files(self) -> dict[str, int]:
        meta = self.cat.load_table(self.plan.table)
        return {f.path: f.bytes for f in meta.files()}

    def _observe(self, step: Step, root, files_before: dict[str, int]) -> None:
        """Table state a traced op left behind, read after its span closed."""
        if step.op == "scan":
            meta = self.cat.load_table(self.plan.table)
            with_deletes = meta.files_with_deletes()
            root.attrs["files"] = len(with_deletes)
            root.attrs["pending_delete_specs"] = sum(len(c) for _f, c in with_deletes)
        elif step.op == "maintain":
            after = self._live_files()
            root.attrs["bytes_rewritten"] = sum(
                b for p, b in after.items() if p not in files_before
            )

    def _call(self, step: Step):
        if step.op in ("publish", "quarantine"):
            return self.pipe.run_file(self.spark, step.path)
        if step.op == "merge":
            return self.cat.merge_into(
                self.spark.read.parquet(step.path), self.plan.table, key=self.plan.key
            )
        if step.op in ("scan", "lookup"):
            return [tuple(r) for r in self.cat.sql(self.spark, step.sql).collect()]
        if step.op == "maintain":
            return self.cat.maintain(self.spark, self.plan.table)
        raise ValueError(step.op)

    def _check(self, step: Step, result) -> str | None:
        """Mirror the step in the replay; return what was wrong, if anything."""
        if step.op == "publish":
            if not result.published:
                return f"clean file not published: {result.failed_checks}"
            self.replay.append(step.path)
        elif step.op == "quarantine":
            if result.published:
                self.replay.append(step.path)
                return "dirty file published"
            if self.plan.expected_failure not in result.failed_checks:
                return f"dirty file failed {result.failed_checks}"
            if result.branch not in self.alerts or not self.cat.branch_exists(result.branch):
                return "no alert, or the quarantine branch is gone"
            self.open_branches.append((result.branch, result.snapshot_id))
        elif step.op == "merge":
            self.replay.merge(step.path)
        elif step.op in ("scan", "lookup"):
            want = self.replay.query(step.sql)
            if not rows_match(result, want):
                return f"{step.sql!r} returned {result}, replay {want}"
        elif step.op == "maintain":
            self.maintain_reports.append(result)
        return None

    # whole run ----------------------------------------------------------
    def final_check(self) -> list[str]:
        """The table on main equals the replay; every quarantined file's
        branch is still open at the snapshot whose audit failed."""
        problems = []
        got = self.cat.read(self.spark, self.plan.table).toArrow()
        missing, extra = self.replay.diff(got)
        if missing or extra:
            problems.append(f"main differs from replay: {missing} rows missing, {extra} extra")
        for branch, snapshot_id in self.open_branches:
            if (
                not self.cat.branch_exists(branch)
                or self.cat.load_table(self.plan.table, branch).current_snapshot_id != snapshot_id
            ):
                problems.append(f"quarantine branch {branch} moved or was dropped")
        return problems


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True


def warehouse_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, names in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total
