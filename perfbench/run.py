"""perfbench: the repository's benchmark, one command per workload.

    python3 perfbench/run.py --workload etl_csv --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke            # every workload, tiny inputs

Run it from the repository root. For each run it generates the seeded
inputs once (cached under .perfbench/), starts fresh single-process
Spark sessions on local[4], times the workload, checks every output,
and prints the end-to-end metrics (``--trace 0``) or the per-layer
metrics of a separately traced run (``--trace 1``), named and with
units as in BENCHMARK.json. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

Each run waits until the previous process tree (Python driver, JVM,
Python workers) has exited before the next one starts.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("etl_csv", "corpus_curation")
# The driver JVM's heap limit. get_spark's 8 GB default lets the heap grow
# lazily to a size that differed by 1.8 GB between runs of the same
# workload; a 2 GB cap narrows peak_rss_mb's spread and keeps the
# benchmark's footprint small on a shared host.
DRIVER_MEM = "2g"
# A run must end within 180 s: the worker is killed after this many
# seconds, and its leftover processes after EXIT_WAIT_S more.
RUN_DEADLINE_S = 150
EXIT_WAIT_S = 15


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def _spawn(args: list[str], run_dir: str, log) -> tuple[dict | None, float]:
    """Run one worker process to completion; return its result and the
    peak resident memory (proportional set size) of its whole process
    tree (MB). Returns only after every process of the tree has exited."""
    from perfbench import ledger

    out = os.path.join(run_dir, "result.json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    spawned = time.time()
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.worker", *args,
         "--spawned-at", repr(spawned), "--out", out],
        cwd=run_dir, env=env, stdout=log, stderr=log, start_new_session=True,
    )
    seen: set[int] = set()
    peak = 0
    try:
        while proc.poll() is None:
            procs = ledger.tree(proc.pid)
            seen.update(procs)
            peak = max(peak, sum(ledger.pss_bytes(p) for p in procs))
            if time.time() - spawned > RUN_DEADLINE_S:
                break
            time.sleep(0.1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        deadline = time.time() + EXIT_WAIT_S
        while any(_alive(p) for p in seen):
            if time.time() > deadline:
                for p in seen:
                    if _alive(p):
                        os.kill(p, signal.SIGKILL)
            time.sleep(0.05)
    if proc.returncode != 0 or not os.path.exists(out):
        return None, peak / 1e6
    with open(out) as f:
        return json.load(f), peak / 1e6


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(workload: str, seed: int, seconds: float, trace: bool, size: str,
            iterations: int = 0) -> tuple[dict, dict]:
    """One benchmark run: returns (result line, details)."""
    from perfbench import gen, workloads

    inputs = gen.ensure_inputs(os.path.join(WORK, "cache"), workload, seed, size,
                               workloads.oracle_sql(workload))
    meta = gen.read_meta(inputs)
    run_dir = os.path.join(WORK, "run")
    os.makedirs(run_dir, exist_ok=True)
    load1 = os.getloadavg()[0]
    steal0, total0 = _cpu_ticks()
    with open(os.path.join(WORK, f"{workload}.log"), "w") as log:
        res, peak_mb = _spawn(
            ["--workload", workload, "--inputs", inputs,
             "--scratch", os.path.join(run_dir, "scratch"), "--seconds", str(seconds),
             "--iterations", str(iterations), "--trace", str(int(trace))],
            run_dir, log,
        )
    steal1, total1 = _cpu_ticks()
    if res is None or not res["series"]:
        raise RuntimeError(f"worker failed; see {log.name} and {res and res['problems']}")
    series, warm_from = res["series"], res["warm_from"]
    warm = series[warm_from:] or series[-1:]
    details = {
        "conditions": {
            **res["conditions"],
            "nproc": os.cpu_count(),
            "load1_at_start": load1,
            # share of the host's CPU time the hypervisor gave to other
            # guests during the run: wall times inflate with it
            "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            "python": sys.version.split()[0],
            "seed": seed,
            "inputs": {"bytes": meta["input_bytes"], **meta["params"]},
        },
        "series": {
            "wall_s": [round(s["wall_s"], 4) for s in series],
            "cpu_s": [round(s["cpu_s"], 3) for s in series],
            "warm_from": warm_from,
        },
        "problems": res["problems"],
        "error_rate": res["failed"] / max(res["attempted"], 1),
    }
    metrics = {
        "setup_s": res["setup"]["setup_s"],
        "cold_s": series[0]["wall_s"],
        "warm_s": _median([s["wall_s"] for s in warm]),
        "warm_cpu_s": _median([s["cpu_s"] for s in warm]),
        "peak_rss_mb": peak_mb,
    }
    if trace:
        rows = [row["metrics"] for row in res["layers"][warm_from:] or res["layers"][-1:]]
        keys = {k for row in rows for k in row}
        metrics = {k: _median([row.get(k, 0.0) for row in rows]) for k in keys}
        metrics["session.start_s"] = res["setup"]["session.start_s"]
        metrics["session.first_job_s"] = res["setup"]["session.first_job_s"]
        metrics["trace.warm_s"] = _median([s["wall_s"] for s in warm])
        metrics["trace.overhead_s"] = _median([s["trace_overhead_s"] for s in warm])
        details["spans"] = res["layers"][-1]["spans"]
    line = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    return line, details


def _emit(workload: str, line: dict, details: dict, trace: bool) -> dict:
    """Print the details and a readable summary; return the result line
    with exactly the manifest's metrics, each with its unit. Metrics of a
    layer that this workload never calls are reported as 0; any other
    manifest metric that the run did not measure is an error."""
    from perfbench.workloads import SPANS

    spec = _manifest()["per_layer" if trace else "end_to_end"]
    measured = line["metrics"]
    layers = {w: {s.split(".")[0] for s in spans} for w, spans in SPANS.items()}
    not_called = set().union(*layers.values()) - layers[workload]
    missing = [m["name"] for m in spec
               if m["name"] not in measured and m["name"].split(".")[0] not in not_called]
    if missing:
        raise RuntimeError(f"{workload}: metrics not measured: {', '.join(missing)}")
    print("conditions " + json.dumps(details["conditions"], sort_keys=True))
    print("series " + json.dumps(details["series"]))
    if details["problems"]:
        print("problems " + json.dumps(details["problems"]))
    if trace:
        for s in details["spans"]:
            print(f"span {s['name']:<16} parent={s['parent'] or '-':<12} "
                  f"wall={s['wall_s']:.4f}s self={s['self_s']:.4f}s "
                  f"driver_cpu={s['driver_cpu_s']:.2f}s py_worker_cpu={s['py_workers_cpu_s']:.2f}s")
    metrics = {
        m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec
    }
    summary = [f"{k}={v['value']:.4g} {v['unit']}" for k, v in metrics.items() if k in measured]
    summary.append(f"error_rate={details['error_rate']:.4g} ratio")
    if trace:
        summary.append(f"layers_not_called={','.join(sorted(not_called)) or '-'}")
    print(f"summary workload={workload} " + " ".join(summary))
    return {**line, "metrics": metrics}


def smoke() -> int:
    """One iteration per workload on the smallest inputs: every metric
    the workload measures must be there, printed with its unit, and
    error_rate must be 0."""
    ok = True
    for w in WORKLOADS:
        for trace in (False, True):
            line, details = run_one(w, 0, 0, trace, "smoke", iterations=1)
            try:
                _emit(w, line, details, trace)
                good = details["error_rate"] == 0
            except RuntimeError as e:
                print(f"smoke {e}")
                good = False
            print(f"smoke {w} trace={int(trace)}: {'ok' if good else 'FAILED'}")
            ok = ok and good
    print(json.dumps({"smoke_ok": ok}))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "gratum_spark")):
        return _fail("run from the repository root: gratum_spark/ not found")
    sys.path.insert(0, ROOT)
    if a.smoke:
        return smoke()
    if a.workload is None:
        return _fail("--workload is required")
    line, details = run_one(a.workload, a.seed, a.seconds, bool(a.trace), "full")
    print(json.dumps(_emit(a.workload, line, details, bool(a.trace))))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
