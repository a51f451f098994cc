"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_paced --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  With ``--trace 0`` the last stdout line
holds the end-to-end metrics; with ``--trace 1`` the run measures with
spans and Spark's event log on, and the last line holds the per-layer
metrics and the traced run's own end-to-end values.  The line before the
last is a fuller report with sample counts.  Exits non-zero without a
result when the program cannot be imported or a workload fails to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_paced", "batch_sf01")
DRIVER_MEM = "2g"


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt-reference", action="store_true",
                   help="check against a deliberately wrong reference (self-test)")
    return p.parse_args()


def _environment(work: str) -> None:
    """Point every scratch file into ``work``; size Spark to the usable cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        # every JVM (launcher and driver): temp files here, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    import tempfile

    tempfile.tempdir = tmp
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def _program_importable() -> str | None:
    try:
        import pyspark  # noqa: F401

        import __spark_entry__  # noqa: F401
        from data_stream_flink_user_address_spark.plans.pipeline import ReferencePipeline  # noqa: F401
    except Exception as e:  # noqa: BLE001
        return f"{type(e).__name__}: {e}"
    return None


def main() -> int:
    args = _parse()
    if args.seconds < 1:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    t_process = time.time()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    missing = _program_importable()
    if missing:
        print(f"perfbench: the program is not importable here ({missing})", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    import measure

    try:
        if args.trace:
            result = measure.traced(args, work, t_process)
        else:
            result = measure.untraced(args, work, t_process)
    finally:
        _stop_spark()
        keep = os.path.join(HERE, ".work", "trace") if args.trace else None
        _tidy(work, keep)
    print(json.dumps({"report": result["report"]}, sort_keys=True))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }))
    return 0


def _stop_spark() -> None:
    """Stop the session and the JVM gateway so no child process outlives us."""
    try:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
    except Exception:  # noqa: BLE001 - best effort at exit
        pass


def _tidy(work: str, keep: str | None) -> None:
    """Delete the run's work dir; a traced run keeps its spans and event
    logs under ``.work/trace`` (replacing the previous traced run's)."""
    if keep:
        shutil.rmtree(keep, ignore_errors=True)
        src = os.path.join(work, "trace")
        if os.path.isdir(src):
            shutil.move(src, keep)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
