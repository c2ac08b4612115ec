"""Indexer benchmark: one workload per run, seeded inputs, a timed closed loop,
outputs checked against DuckDB, and one JSON result as the last stdout line.

    python3 perfbench/run.py --workload batch_reindex --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate run
with span recording, a py4j call counter and the Spark event log on, and
reports the per-layer metrics (see README.md).  Every file the run writes
goes under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

SETUPS = 3        # set-ups per run, each with the program's first passes; setup_s is their median
MIN_OPS = 3       # timed ops per run, even when the window is shorter
LAYER_OPS = 3     # traced ops the per-layer medians use

# names the report lines also give these metrics
ALIASES = {"items_per_s": "reindex_cells_per_s", "op_latency_p50_s": "reindex_pass_p50_s"}


def _environment(run_dir: str, trace: bool) -> None:
    """Session sizing and scratch locations, set before pyspark starts the
    JVM.  Only launcher arguments are added, so the session settings in
    ``session.get_spark`` stay as shipped."""
    for sub in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    args = [f'--driver-java-options "-Djava.io.tmpdir={os.path.join(run_dir, "tmp")}'
            ' -XX:-UsePerfData"']
    if trace:
        args += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{os.path.join(run_dir, 'eventlog')}",
                 "--conf spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _calibrate() -> float:
    """Best of 3 timings of a fixed pure-Python loop.  Not a metric: it lets a
    reader tell a slow host from a slow program when runs disagree."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        best = min(best, time.perf_counter() - t0)
    return best


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def _report(name: str, value, unit: str, note: str = "") -> None:
    print(f"# {name} = {value} {unit}{('  (' + note + ')') if note else ''}", flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(WORK, f"run-{args.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _environment(run_dir, bool(args.trace))
    sys.path.insert(0, ROOT)
    from helper import Helper

    helper = Helper()   # before the program is imported: see Helper
    # the program under test; without it the run fails here, before any result
    from hbase_indexer_spark.session import get_spark
    from spans import Tracer, attribute_jobs, read_event_log, retained_mb
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")

    _report("host_calibration_s", round(_calibrate(), 4), "s",
            "fixed pure-Python loop; shows how fast the host ran this run")
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    _report("session_start_s", round(time.perf_counter() - t0, 3), "s")
    tracer = Tracer(bool(args.trace))
    if tracer.enabled:
        tracer.py4j.install(spark)
    w = WORKLOADS[args.workload](spark, args.seed, os.path.join(run_dir, "data"),
                                 tracer, LAYER_OPS, helper)
    try:
        setup_times = [w.setup(i) for i in range(SETUPS)]
        # after a fixed number of ops, so the live set does not depend on how
        # many ops the window fits
        py_mb, heap_mb = retained_mb(w.spark)
        tracer.spans.clear()
        records = w.run(args.seconds, MIN_OPS)
        try:
            final_ok, detail = w.final_check()
        except Exception as e:  # an unreadable output is a wrong output
            final_ok, detail = False, f"check raised {type(e).__name__}: {e}"
    finally:
        helper.close()
        tracer.py4j.uninstall()
        gateway = w.spark.sparkContext._gateway
        w.spark.stop()

    attempted = len(records)
    failed = attempted if not final_ok else sum(not r["ok"] for r in records)
    ok_records = [r for r in records if r["ok"]]
    lat = [r["latency_s"] for r in ok_records]
    e2e = {
        "setup_s": statistics.median(setup_times),
        "items_per_s": _median([r["items"] / r["latency_s"] for r in ok_records]),
        "op_latency_p50_s": _median(lat),
        "retained_mb": py_mb + heap_mb,
    }
    for key, value in e2e.items():
        alias = ALIASES.get(key)
        _report(alias or key, value, end_to_end[key],
                f"as {key}" if alias else "")
    _report("failed_op_share", failed / attempted if attempted else 1.0, "ratio",
            f"{failed} of {attempted}; check: {detail}")
    _report("retained_parts_mb", [round(py_mb, 1), round(heap_mb, 1)], "MB", "Python peak, JVM heap after GC")
    _report("setup_runs_s", [round(s, 3) for s in setup_times], "s")
    _report("op_latencies_s", [round(r["latency_s"], 3) for r in records], "s")
    for key, value in w.notes.items():
        _report(key, value, "")

    if tracer.enabled:
        spans = tracer.spans
        attribute_jobs(spans, read_event_log(os.path.join(run_dir, "eventlog")))
        measured = w.layer_metrics(spans)
        unknown = sorted(set(measured) - set(per_layer))
        if unknown:
            raise ValueError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        layers = {name: 0.0 for name in per_layer}
        layers.update(measured)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer.items()}
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}.json"),
                    {"end_to_end": e2e, "per_layer": layers, **w.notes})
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()}

    ok = final_ok and failed == 0 and all(math.isfinite(m["value"]) for m in metrics.values())
    print(json.dumps({"correct": ok, "attempted": max(attempted, 1),
                      "failed": failed if attempted else 1, "metrics": metrics}), flush=True)
    _shutdown(gateway)
    return 0


def _shutdown(gateway) -> None:
    """Stop the JVM pyspark launched and wait for it to exit."""
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # still running after the timeout, or no pipe
            proc.kill()
            proc.wait(timeout=10)


if __name__ == "__main__":
    sys.exit(main())
