"""Self-tests of the benchmark: deterministic inputs, the tail rule,
one latency series per op type, and exact repeat of the counts.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os

import pytest

import data
import run
import stats
import workloads


def _digests(root: str) -> dict[str, str]:
    return {
        n: hashlib.sha256(open(os.path.join(root, n), "rb").read()).hexdigest()
        for n in sorted(os.listdir(root))
    }


def _land(tmp_path, name: str, workload: str, seed: int) -> tuple[dict, workloads.Plan]:
    root = tmp_path / name
    root.mkdir()
    plan = workloads.PLANS[workload](data.Landing(str(root)), seed, 10)
    return _digests(str(root)), plan


@pytest.mark.parametrize("workload", sorted(workloads.PLANS))
def test_landed_files_are_byte_identical_for_a_seed(tmp_path, workload):
    a, plan_a = _land(tmp_path, "a", workload, 7)
    b, plan_b = _land(tmp_path, "b", workload, 7)
    c, _ = _land(tmp_path, "c", workload, 8)
    assert a and a == b
    assert a != c
    strip = lambda plan: [(s.op, s.path and os.path.basename(s.path), s.sql) for s in plan.steps]
    assert strip(plan_a) == strip(plan_b)


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = [float(v) for v in range(1, 101)]  # 1..100
    value, pct, n = stats.tail(values)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in values) == 10
    value, pct, n = stats.tail(values[:30])
    assert (value, n) == (20.0, 30) and pct == pytest.approx(100 * 20 / 30)
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([3.0] * 10 + [1.0]) == (1.0, 100 / 11, 11)


def test_op_types_never_share_a_latency_series():
    s = stats.Series()
    for i, op in enumerate(stats.OP_TYPES):
        s.add(op, float(i))
        s.add(op, float(i))
    for i, op in enumerate(stats.OP_TYPES):
        assert s[op] == [float(i), float(i)]

    class FakeClient:
        series = s
        rows_published = 1
        busy_s = 1.0

    e2e = run.end_to_end(FakeClient(), 1.0, 1, 1)
    reads = {
        "publish_p50_s": "publish",
        "quarantine_p50_s": "quarantine",
        "merge_p50_s": "merge",
        "scan_p50_s": "scan",
        "lookup_p50_s": "lookup",
    }
    for metric, op in reads.items():
        assert e2e[metric][0] == float(stats.OP_TYPES.index(op))
    assert len(set(reads.values())) == len(reads)


@pytest.mark.parametrize("workload", sorted(workloads.PLANS))
def test_plan_steps_use_only_known_op_types(tmp_path, workload):
    _, plan = _land(tmp_path, "a", workload, 3)
    ops = {s.op for s in plan.seed_steps + plan.warm_steps + plan.steps}
    assert ops <= set(stats.OP_TYPES)
    # every op type the end-to-end metrics read is issued in the timed phase
    assert {"publish", "quarantine", "merge", "scan", "lookup"} <= {s.op for s in plan.steps}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    s = run.start_spark(work, 2)
    yield s
    run.stop_spark(s)


def test_stored_bytes_and_store_counts_repeat_exactly(spark, tmp_path):
    """Two traced runs of the same seed: identical stored bytes per row,
    store call counts and metadata bytes."""
    import layers

    seen = []
    for name in ("a", "b"):
        root = tmp_path / name
        (root / "landing").mkdir(parents=True)
        plan = workloads.plan_wap_trickle(data.Landing(str(root / "landing")), 5, 1)
        client, tracer, _, _ = run.run_workload(spark, plan, str(root / "warehouse"), True)
        assert client.final_check() == [] and not client.failures
        per_layer, _ = layers.layer_metrics(tracer, client, 0.0)
        stored = workloads.warehouse_bytes(client.cat.warehouse)
        seen.append(
            (
                stored / client.replay.rows(),
                per_layer["store.calls_per_op"][0],
                per_layer["store.put_bytes_per_op"][0],
                per_layer["metadata.bytes_per_commit"][0],
                per_layer["spark.jobs_per_op"][0],
            )
        )
    assert seen[0] == seen[1]
