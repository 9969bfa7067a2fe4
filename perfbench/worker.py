"""One fresh benchmark process: set up a Spark session, run a workload's
iterations, check every output, and write the series to a JSON file.

Started by perfbench/run.py, which passes the input directory and the
time it spawned the process, so that setup_s counts from process start:

    python3 -m perfbench.worker --workload etl_csv --inputs DIR \
        --scratch DIR --seconds 12 --trace 0 \
        --spawned-at EPOCH --out result.json

The first iteration is the cold one; the next ``WARMUP`` are dropped;
the measured window then runs iterations until ``--seconds`` have
passed (or exactly ``--iterations`` in all, when that is given). The
result records where the window starts (``warm_from``).
"""

from __future__ import annotations

import argparse
import json
import os
import time
import traceback

from perfbench import ledger

# local[4] whatever the host's core count, so that every host runs the
# same workload; the run's conditions record nproc next to it.
CPUS = 4
# Iterations after the cold one that are discarded before the measured
# window opens. Wall time levels off at iteration 1 (etl_csv) and 3
# (corpus_curation); more warm-up does not fit the run budget
# (perfbench/NOTES.md, "Warm-up").
WARMUP = 1


def _setup(spawned_at: float) -> tuple[object, dict]:
    from gratum_spark import get_spark

    t_import = time.time()
    spark = get_spark("perfbench", cpus=CPUS)
    t_session = time.time()
    spark.range(1).count()
    t_ready = time.time()
    return spark, {
        "setup_s": t_ready - spawned_at,
        "session.start_s": t_session - t_import,
        "session.first_job_s": t_ready - t_session,
    }


def _conditions(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
    }


def _layer_row(acc: dict, spans: list[dict], ops, workload: str, input_bytes: int) -> dict:
    """Per-layer metrics of one iteration (see BENCHMARK.json per_layer)."""
    from perfbench.workloads import output_size

    row: dict[str, float] = {}
    for s in spans:
        key = s["name"]
        row[f"{key}_s"] = row.get(f"{key}_s", 0.0) + s["wall_s"]
        row[f"{key}_self_s"] = row.get(f"{key}_self_s", 0.0) + s["self_s"]
    # every span opened reports its ledger, zero when it ran no stage
    for span in {s["name"] for s in spans} | set(acc):
        for k, v in acc.get(span, dict.fromkeys(ledger.Tracer.LEDGER, 0.0)).items():
            row[f"{span}_{k}"] = v
    scanned = sum(led["input_mb"] for led in acc.values()) * 1e6
    row["sources.read_amplification"] = scanned / input_bytes
    if workload == "etl_csv":
        files = size = 0
        for op in ops:
            f, b = output_size(op)
            files, size = files + f, size + b
        row["sinks.files"], row["sinks.output_mb"] = files, size / 1e6
    return row


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--iterations", type=int, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    spark, setup = _setup(a.spawned_at)
    result: dict = {"setup": setup, "conditions": _conditions(spark)}

    from perfbench import gen, workloads

    meta = gen.read_meta(a.inputs)
    tr = ledger.Tracer(spark, a.workload) if a.trace else ledger.NoTrace()
    series: list[dict] = []
    layers: list[dict] = []
    attempted = failed = 0
    problems: list[str] = []
    t_measure = None
    while True:
        i = len(series)
        workloads.clear(a.scratch)
        tr.iteration = i
        cpu0 = ledger.cpu_split(os.getpid())
        oh0 = tr.overhead_s
        t0 = time.perf_counter()
        try:
            ops = workloads.run(a.workload, spark, a.inputs, meta, a.scratch, tr)
        except Exception:  # noqa: BLE001 - a failed iteration is a failed operation
            problems.append(traceback.format_exc(limit=3))
            attempted += 1
            failed += 1
            break
        wall = time.perf_counter() - t0
        cpu1 = ledger.cpu_split(os.getpid())
        for op in ops:
            attempted += 1
            bad = workloads.check(a.workload, op, a.inputs)
            if bad:
                failed += 1
                problems.append(f"iteration {i} {op.name}: " + "; ".join(bad))
        series.append({
            "wall_s": wall,
            "cpu_s": cpu1["tree"] - cpu0["tree"],
            "driver_cpu_s": cpu1["driver"] - cpu0["driver"],
            "py_workers_cpu_s": cpu1["py_workers"] - cpu0["py_workers"],
            "trace_overhead_s": tr.overhead_s - oh0,
        })
        if a.trace:
            spans = tr.iteration_spans()
            ledger_by_span, cached = tr.collect()
            row = _layer_row(ledger_by_span, spans, ops, a.workload, meta["input_bytes"])
            row["operators.cached_mb"] = cached / 1e6
            row["driver.py_cpu_s"] = series[-1]["driver_cpu_s"]
            row["functions.py_worker_cpu_s"] = series[-1]["py_workers_cpu_s"]
            layers.append({"spans": spans, "metrics": row})
        if a.iterations:
            if len(series) >= a.iterations:
                break
            continue
        if i == WARMUP:
            t_measure = time.perf_counter()
        if t_measure is not None and time.perf_counter() - t_measure >= a.seconds:
            break
    if a.trace:
        tr.dump(os.path.join(os.path.dirname(a.scratch), f"spans-{a.workload}.json"))
    spark.stop()
    result.update(series=series, warm_from=1 + WARMUP, layers=layers,
                  attempted=attempted, failed=failed, problems=problems[:20])
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
