"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload wap_trickle --seed 1 --seconds 35 --trace 0

Run from the root of a checkout. Set-up lands the seeded inputs, starts
Spark on ``local[2]``, seeds the table and warms every operation
type; the timed phase then runs a fixed number of operations (set by
``--seconds``). With ``--trace 0`` the last line carries the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a traced run. Each
result is checked against a DuckDB replay; a wrong result exits 1.
Details (tails with their percentile and sample count, host context,
per-op-type layer breakdown) go to ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

PACKAGE = "no_jvm_wap_with_iceberg_spark"
# Spark worker threads. The ops are small: on a 4-core host local[2] ran
# them as fast as local[4], and with one core kept busy by another
# process its scans slowed 6% where local[4]'s slowed 20%.
SPARK_CORES = 2


def cpu_times() -> list[int]:
    """The host's aggregate CPU jiffies (user ... steal), from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def host_context() -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": min(SPARK_CORES, len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": list(os.getloadavg()),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def start_spark(work: str, cores: int):
    """A session on ``local[cores]`` whose scratch space is inside ``work``."""
    from no_jvm_wap_with_iceberg_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # executors' Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            # a heap that starts at its full size never resizes mid-run
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_workload(spark, plan, warehouse: str, trace: bool):
    """Seed and warm untimed, then run the timed steps. Returns the
    client, the tracer (None untraced), when set-up ended, and the timed
    phase's wall time."""
    import workloads
    from no_jvm_wap_with_iceberg_spark.catalog.catalog import Catalog

    tracer = None
    if trace:
        import tracing

        tracer = tracing.Tracer(spark)
        tracing.instrument(tracer)
        catalog = Catalog(warehouse, store=tracing.TracedStore(warehouse, tracer))
    else:
        catalog = Catalog(warehouse)
    try:
        client = workloads.Client(spark, catalog, plan, tracer)
        for step in plan.seed_steps + plan.warm_steps:
            client.run(step, timed=False)
        setup_end = time.perf_counter()
        for step in plan.steps:
            client.run(step, timed=True)
        timed_s = time.perf_counter() - setup_end
    finally:
        if tracer is not None:
            tracer.restore()
    return client, tracer, setup_end, timed_s


def end_to_end(client, setup_s: float, stored_bytes: int, live_rows: int) -> dict:
    s = client.series
    return {
        "setup_s": (setup_s, "s"),
        "publish_p50_s": (s.p50("publish"), "s"),
        "quarantine_p50_s": (s.p50("quarantine"), "s"),
        "merge_p50_s": (s.p50("merge"), "s"),
        "scan_p50_s": (s.p50("scan"), "s"),
        "lookup_p50_s": (s.p50("lookup"), "s"),
        "ingest_rows_per_s": (client.rows_published / client.busy_s, "1/s"),
        "stored_bytes_per_row": (stored_bytes / live_rows, "B/row"),
    }


def run_plan(args, host: dict, work: str, out_dir: str, spark_box: list) -> dict:
    """A listed workload: one client, every op type, replay-checked."""
    import data
    import stats
    import workloads

    t = time.perf_counter()
    land = data.Landing(os.path.join(work, "landing"))
    os.makedirs(land.root)
    plan = workloads.PLANS[args.workload](land, args.seed, args.seconds)
    landing_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = spark_box[0] = start_spark(work, host["spark_cores"])
    session_s = time.perf_counter() - t

    client, tracer, setup_end, timed_s = run_workload(
        spark, plan, os.path.join(work, "warehouse"), args.trace
    )
    setup_s = setup_end - T_START
    problems = client.final_check()
    live_rows = client.replay.rows()
    stored = workloads.warehouse_bytes(client.cat.warehouse)
    e2e = end_to_end(client, setup_s, stored, live_rows)
    detail = {
        "setup": {
            "landing_s": landing_s,
            "session_start_s": session_s,
            "steps": client.setup_log,
            "total_s": setup_s,
        },
        "timed_s": timed_s,
        "samples": client.series.counts(),
        "tails": {op: stats.tail(client.series[op]) for op in stats.OP_TYPES},
        "latencies": {op: client.series[op] for op in stats.OP_TYPES},
        "stored_bytes": stored,
        "live_rows": live_rows,
        "maintain_reports": client.maintain_reports,
        "e2e": {k: v for k, (v, _u) in e2e.items()},
    }
    metrics = e2e
    if tracer is not None:
        import layers

        metrics, detail["per_op_type"] = layers.layer_metrics(tracer, client, session_s)
        detail["tracing_overhead"] = layers.overhead(
            detail["e2e"], os.path.join(out_dir, f"{args.workload}-s{args.seed}-t0.json")
        )
    return {
        "metrics": metrics,
        "detail": detail,
        "attempted": client.attempted,
        "failures": client.failures,
        "problems": problems,
        # one client contends with nobody: any failed op is a wrong result
        "correct": not problems and not client.failures,
    }


def run_contended(args, host: dict, work: str, spark_box: list) -> dict:
    """The unlisted wap_contended workload; failed publishes are
    conflicts, counted but not wrong."""
    import contended
    import data

    land = data.Landing(os.path.join(work, "landing"))
    os.makedirs(land.root)
    files = contended.land_files(land, args.seed, args.seconds)
    spark = spark_box[0] = start_spark(work, host["spark_cores"])
    res = contended.run(spark, files, os.path.join(work, "warehouse"))
    tail = res["publish_tail"]
    metrics = {
        "setup_s": (res["setup_end"] - T_START, "s"),
        "publish_p50_s": (res["publish_p50_s"], "s"),
        "publish_tail_s": (tail[0], "s"),
        "ingest_rows_per_s": (res["ingest_rows_per_s"], "1/s"),
        "stored_bytes_per_row": (res["stored_bytes_per_row"], "B/row"),
    }
    return {
        "metrics": metrics,
        "detail": {"timed_s": res["timed_s"], "tails": {"publish": tail}},
        "attempted": res["attempted"],
        "failures": res["failures"],
        "problems": res["problems"],
        "correct": not res["problems"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        pkg = __import__(PACKAGE)
    except ImportError as exc:
        print(f"perfbench: cannot import {PACKAGE} from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: {PACKAGE} resolves outside {ROOT}", file=sys.stderr)
        return 2

    import workloads

    contended = args.workload == "wap_contended"
    if args.workload not in workloads.PLANS and not (contended and not args.trace):
        print(f"perfbench: no workload {args.workload!r} with --trace {args.trace}", file=sys.stderr)
        return 2

    host = host_context()
    cpu_before = cpu_times()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    spark_box = [None]
    try:
        if contended:
            out = run_contended(args, host, work, spark_box)
        else:
            out = run_plan(args, host, work, out_dir, spark_box)
    finally:
        if spark_box[0] is not None:
            stop_spark(spark_box[0])
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_after"] = list(os.getloadavg())
    # CPU time the hypervisor gave to other guests: the noise no code
    # change explains
    spent = [b - a for a, b in zip(cpu_before, cpu_times())]
    host["steal_share"] = spent[7] / sum(spent)

    failures, problems = out["failures"], out["problems"]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "failed_ops_ratio": len(failures) / out["attempted"],
        "failures": failures[:20],
        "problems": problems,
        **out["detail"],
    }
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(json.dumps({k: detail.get(k) for k in ("samples", "tails", "failed_ops_ratio", "host")}))
    print(
        json.dumps(
            {
                "correct": out["correct"],
                "attempted": out["attempted"],
                "failed": len(failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
            }
        )
    )
    if not out["correct"]:
        for p in problems + failures:
            print(f"perfbench: {p}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
