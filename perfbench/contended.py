"""wap_contended: four WAP clients publishing at once, two per table.

Publish conflicts are branch-global today, so clients conflict even on
disjoint tables (ROADMAP Direction 3). Each client ``run_file``s its own
clean 1,000-row files; a file is published once or counted failed
("merge conflict retries exhausted"). This workload is runnable by name
but not listed in BENCHMARK.json: its figures spread too widely between
runs for a regression bound (see DESIGN.md for the measured spread).
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np
import pyarrow as pa

import data
import stats
from workloads import warehouse_bytes

CLIENTS = 4
TABLES = 2
FILES_PER_CLIENT_PER_S = 0.6
ROWS = 1000


def land_files(land: data.Landing, seed: int, seconds: int) -> list[list[str]]:
    """Per client, its files. File ``k`` holds ``my_col_0`` in
    ``[k * ROWS, (k + 1) * ROWS)``, so main shows which files landed and
    how often."""
    rng = np.random.default_rng(seed)
    per_client = 1 + max(2, round(seconds * FILES_PER_CLIENT_PER_S))  # + warm-up
    out: list[list[str]] = [[] for _ in range(CLIENTS)]
    for k in range(CLIENTS * per_client):
        t = data.trickle_file(rng, ROWS, False)
        ids = pa.array(np.arange(k * ROWS, (k + 1) * ROWS, dtype=np.int32))
        t = t.set_column(0, "my_col_0", ids)
        out[k % CLIENTS].append(land.land(f"c{k:05d}", t))
    return out


def file_id(path: str) -> int:
    return int(os.path.basename(path)[1:6])


def run(spark, files: list[list[str]], warehouse: str) -> dict:
    from no_jvm_wap_with_iceberg_spark.catalog.catalog import Catalog
    from no_jvm_wap_with_iceberg_spark.wap.checks import NotNullCheck
    from no_jvm_wap_with_iceberg_spark.wap.pipeline import WapPipeline

    cat = Catalog(warehouse)
    pipes = [
        WapPipeline(cat, f"t{i % TABLES}", [NotNullCheck("my_col_1")], alert=lambda b, r: None)
        for i in range(CLIENTS)
    ]
    for pipe, own in zip(pipes, files):  # set-up: create tables, warm up
        if not pipe.run_file(spark, own[0]).published:
            raise RuntimeError("warm-up publish failed")
    setup_end = time.perf_counter()

    results: list[list[tuple[str, bool, float, str | None]]] = [[] for _ in range(CLIENTS)]

    def client(i: int) -> None:
        for path in files[i][1:]:
            t = time.perf_counter()
            try:
                ok, err = pipes[i].run_file(spark, path).published, None
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                ok, err = False, f"{type(exc).__name__}: {exc}"
            results[i].append((path, ok, time.perf_counter() - t, err))

    threads = [threading.Thread(target=client, args=(i,)) for i in range(CLIENTS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    timed_s = time.perf_counter() - setup_end

    flat = [r for rs in results for r in rs]
    published = {file_id(p) for p, ok, _s, _e in flat if ok}
    published |= {file_id(own[0]) for own in files}
    problems = []
    live_rows = 0
    for t in range(TABLES):
        rows = (
            cat.read(spark, f"t{t}")
            .selectExpr(f"CAST(my_col_0 / {ROWS} AS INT) AS k")
            .groupBy("k")
            .count()
            .collect()
        )
        live_rows += sum(r["count"] for r in rows)
        want = {k for k in published if k % CLIENTS % TABLES == t}
        got = {r["k"]: r["count"] for r in rows}
        if set(got) != want or any(n != ROWS for n in got.values()):
            problems.append(f"t{t}: published {sorted(want)} but main holds {got}")
    lat = [s for _p, ok, s, _e in flat if ok]
    failures = [f"{os.path.basename(p)}: {e or 'not published'}" for p, ok, _s, e in flat if not ok]
    return {
        "setup_end": setup_end,
        "timed_s": timed_s,
        "attempted": len(flat),
        "failures": failures,
        "problems": problems,
        "publish_p50_s": statistics.median(lat),
        "publish_tail": stats.tail(lat),
        "ingest_rows_per_s": ROWS * len(lat) / timed_s,
        "stored_bytes_per_row": warehouse_bytes(warehouse) / live_rows,
    }
