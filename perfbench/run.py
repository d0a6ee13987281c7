#!/usr/bin/env python3
"""End-to-end benchmark of the ingestion engine, one workload per process.

    python3 perfbench/run.py --workload shipment_ingest --seed 1 --seconds 10 --trace 0

Each run is one closed loop with a single client on ``local[<cpus>]``:

1. generate the workload's seeded inputs under ``.perfbench/`` (untimed);
2. start a SparkSession in a fresh JVM (the set-up, ``setup_s``);
3. run jobs back to back within ``--seconds``, checking every job's
   outputs against expectations kept outside the program (untimed); a
   job that raises or fails a check counts in ``failed``.

A run makes at least ``min_jobs`` jobs (workloads.py) and starts more only
while they should end within ``--seconds``. Each job of ``shipment_ingest``
or ``corpus_curate`` takes longer than the ``run_seconds`` in
BENCHMARK.json (10), so with it a run makes exactly ``min_jobs`` jobs:
one cold batch of ``shipment_ingest`` (the reference runs one file per
process), or a cold and a warm curation of ``corpus_curate``.
``query_core`` runs whole passes over the frozen ``bench.CORE`` queries,
at least a cold and a warm one; it reads the fixed tables in
``$SPARK_GRAFT_SF_DIR`` and is not in BENCHMARK.json.

The last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``. With ``--trace 0`` the metrics are the workload's end-to-end
ones (``E2E`` in workloads.py); with ``--trace 1`` the same loop runs with
spans around the package calls and the metrics are the per-layer ones
(``LAYERS`` here and in workloads.py). Earlier ``#``-prefixed lines carry
every other number the run measured, and a traced run also writes its
spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

SLOTS = len(os.sched_getaffinity(0))

# Per-layer metrics every workload reports; each workload adds its own
# (``LAYERS`` in workloads.py). Times and counts are per job.
LAYERS = {
    "session.start_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_util": "ratio",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "trace.run_s": "s",
    "trace.self_s": "s",
}


def _vm_hwm_kb(pid) -> int:
    """Peak resident set size of ``pid`` in kB (``VmHWM``)."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _spark_conf(work: str) -> dict:
    """Keep every file Spark writes inside the work directory."""
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }


def _start(work: str):
    """One set-up: a SparkSession in a fresh JVM, first trivial action done.

    Returns (session, seconds to a ready session, seconds in ``get_spark``).
    """
    from jsonl_dataingestion_pipeline_spark import session

    t = time.perf_counter()
    spark = session.get_spark(
        master=f"local[{SLOTS}]", shuffle_partitions=SLOTS, extra_conf=_spark_conf(work)
    )
    t_session = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t, t_session


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = None
    SparkContext._jvm = None
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def _cpu_s() -> float:
    """CPU seconds used so far by this process and its JVM (all threads)."""
    total = 0
    for pid in ("self", _jvm_pid()):
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def _jvm_pid():
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _spark_layers(tracer, walls, session_s) -> dict:
    """Session start and the Spark counters of all jobs, per job."""
    total: Counter = Counter()
    for s in tracer.spans:
        if s["name"] == "job":
            total.update(tracer.inclusive(s))
    out = {f"spark.{k}": v / len(walls) for k, v in total.items()}
    out["spark.cpu_util"] = total["executor_cpu_s"] / (sum(walls) * SLOTS)
    out["session.start_s"] = session_s
    out["trace.run_s"] = sum(walls)
    return out


def _steal_s() -> float:
    """Hypervisor steal time of all CPUs so far, in seconds (``/proc/stat``)."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _loop(spark, wl, seconds: float, tracer) -> tuple[list, float, list, list]:
    """Jobs back to back within ``seconds``: at least ``wl.min_jobs`` and
    whole passes of ``wl.pass_len`` jobs; after that, a pass starts only if
    it should end in time, judged by the last pass.

    Returns (job walls, CPU seconds of the jobs, input rows per job, check
    failures per job).
    """
    walls, rows, errors = [], [], []
    cpu_s = 0.0
    i = 0
    while (i < wl.min_jobs or i % wl.pass_len
           or sum(walls) + sum(walls[-wl.pass_len:]) <= seconds):
        wl.prepare(i)
        cpu0 = _cpu_s()
        t = time.perf_counter()
        try:
            if tracer is None:
                wl.job(spark, i)
            else:
                tracer.run_id = i
                with tracer.span("job"):
                    wl.job(spark, i)
            walls.append(time.perf_counter() - t)
            cpu_s += _cpu_s() - cpu0
            failures = wl.check(i)
        except Exception:  # a failed job is counted, and the loop goes on
            walls.append(time.perf_counter() - t)
            failures = [traceback.format_exc(limit=3)]
        rows.append(wl.rows(i))
        errors.append(failures)
        for f in failures:
            print(f"# check failed: job {i}: {f}", file=sys.stderr)
        i += 1
    return walls, cpu_s, rows, errors


def _traced_layers(spark, tracer, wl, walls, session_s, args) -> dict:
    loop_self_s = tracer.self_s
    tracer.unwrap_all()
    tracer.attach_counters()
    layers = _spark_layers(tracer, walls, session_s)
    layers.update(wl.layers(spark, tracer, len(walls)))
    layers["trace.self_s"] = loop_self_s
    trace_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    tracer.dump(
        os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), {"layers": layers}
    )
    return layers


def run(args, work: str) -> dict:
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed)

    steal0 = _steal_s()
    spark, setup_s, session_s = _start(work)
    try:
        spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoints"))
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            wl.wrap(tracer)
        walls, cpu_s, rows, errors = _loop(spark, wl, args.seconds, tracer)
        peak_rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(_jvm_pid())) / 1024
        layers = None
        if tracer is not None:
            layers = _traced_layers(spark, tracer, wl, walls, session_s, args)
    finally:
        _stop(spark)

    failed = sum(1 for e in errors if e)
    e2e = {"setup_s": setup_s, "run_s": sum(walls), "cpu_s": cpu_s,
           "peak_rss_mb": peak_rss_mb, **wl.e2e(walls, rows)}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "master": f"local[{SLOTS}]",
        "jobs": len(walls),
        "job_walls_s": walls,
        "input_rows": sum(rows),
        "rows_per_s": sum(rows) / sum(walls),
        "steal_s": _steal_s() - steal0,
        "error_rate": failed / len(walls),
        **e2e,
    }
    print("#e2e " + json.dumps(detail, sort_keys=True))
    if layers is not None:
        print("#layers " + json.dumps(layers, sort_keys=True))
        # Time the tracer spent inside the timed jobs. The full overhead is
        # this run's run_s against an untraced run's (perfbench/baseline.json).
        print("#overhead " + json.dumps({
            "trace_self_s": layers["trace.self_s"],
            "share_of_run_s": layers["trace.self_s"] / sum(walls),
        }))
    metrics, units = (e2e, wl.E2E) if layers is None else (layers, {**LAYERS, **wl.LAYERS})
    return {
        "correct": failed == 0,
        "attempted": len(walls),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("shipment_ingest", "corpus_curate", "query_core"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import jsonl_dataingestion_pipeline_spark  # noqa: F401  (fail fast without the package)

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"work-{args.workload}-", dir=base)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
