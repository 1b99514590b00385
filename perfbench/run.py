"""Seeded serve / mutate benchmark for the inverted-index engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run is one fresh process: it starts
a ``local[4]`` session, generates the workload's corpus, queries and
mutation payloads from ``--seed``, then times, in order, a fresh full
``IndexBuilder.build``, five no-op resumes, and the workload's query /
commit phase (``--seconds`` sizes serve's query loop, one whole 20-query
cycle per 5 s; mutate runs its fixed commit script). Every output is
checked against the brute-force oracle in ``oracle.py``; a failed check
or an exception counts as a failed operation and never stops the run.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it lists every
metric by name and unit, ``op_error_ratio`` included. Traced runs
also write their spans to ``.perfbench/spans/``. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4


def _process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_ZERO = time.monotonic() - _process_age()


def _isolate(work: str) -> None:
    """Keep every file the run writes (Spark local dirs, temp files,
    JVM temp dir) inside the checkout."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("GXDIDX_TRACE", None)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM
    to exit (``spark.stop()`` already ends the Python workers; the JVM
    exits once its stdin pipe closes)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        import pyspark  # noqa: F401

        import gxdindexer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)

    import bench

    run = bench.Run(args, work, T_ZERO)
    try:
        run.execute()
    except Exception:  # noqa: BLE001 — report, no result line
        traceback.print_exc()
        return 1
    finally:
        t0 = time.monotonic()
        if run.spark is not None:
            stop_spark(run.spark)
        t1 = time.monotonic()
        shutil.rmtree(work, ignore_errors=True)
        run.phase_s["teardown.stop"] = round(t1 - t0, 3)
        run.phase_s["teardown.rmtree"] = round(time.monotonic() - t1, 3)
    if args.trace:
        os.makedirs(os.path.join(base, "spans"), exist_ok=True)
        run.tracer.write(
            os.path.join(base, "spans", f"{args.workload}-s{args.seed}.jsonl")
        )
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    metrics = run.metrics(rss_mb)
    print(
        "perfbench: "
        + json.dumps({"workload": args.workload, "seed": args.seed,
                      "properties": run.props}, default=str)
    )
    print(
        "perfbench metrics: "
        + ", ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items())
    )
    # the failure ratio travels as attempted/failed: at a correct
    # commit it is 0, which a compared metric must never be
    metrics.pop("op_error_ratio", None)
    print(
        json.dumps(
            {
                "correct": run.ops.failed == 0,
                "attempted": run.ops.attempted,
                "failed": run.ops.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
