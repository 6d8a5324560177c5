"""Benchmark entry point for unraveldocs-spark.

    python3 perfbench/run.py --workload {extract,operators} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  The program under test is the
``unraveldocs_spark`` package of that checkout; the run stops with exit
code 2, printing no result, when the checkout does not hold it.  Every
file the run writes goes under ``.perfbench_work/`` in the checkout.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``.  With ``--trace 0`` the metrics are the end-to-end ones
(untraced passes only); with ``--trace 1`` they are the per-layer ones.
The line before it is a report with the environment record, the input
digest and counts, and every step time.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SLOTS = min(4, os.cpu_count() or 1)

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "leaf_geomean_s": "s",
    "rows_per_s": "1/s",
    "out_bytes_per_row": "bytes",
}


def _checkout_or_exit() -> None:
    """Import the package from this checkout only, or exit 2."""
    pkg = os.path.join(ROOT, "unraveldocs_spark", "__init__.py")
    if not os.path.isfile(pkg):
        print(f"perfbench: no unraveldocs_spark package under {ROOT}", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))
    import unraveldocs_spark

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(unraveldocs_spark.__file__)))
    if pkg_root != ROOT:
        print("perfbench: unraveldocs_spark resolved outside the checkout",
              file=sys.stderr)
        sys.exit(2)


def build_spark(app: str, run_dir: str):
    """One Spark session at ``local[SLOTS]``, shuffle and temp files under
    the run dir.  The first call also starts the JVM."""
    from unraveldocs_spark.session import build_session

    local_dir = os.path.join(run_dir, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir  # wins over spark.local.dir
    spark = build_session(
        app,
        master=f"local[{SLOTS}]",
        extra_conf={
            "spark.local.dir": local_dir,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local_dir}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it started, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def cpu_times() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (empty where absent)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_frac(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between:
    a loud window shows here instead of silently slowing the run."""
    if len(before) < 8 or len(after) < 8:
        return None
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total else None


def cpu_probe_ms() -> float:
    """Best of five timings of a fixed pure-Python loop: the host's speed
    for one core right now, comparable across runs on one machine."""
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        x = 0
        for i in range(200_000):
            x = (x * 31 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t)
    return 1e3 * best


def environment(spark) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "slots": spark.sparkContext.defaultParallelism,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("extract", "operators"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _checkout_or_exit()
    import workloads
    from workloads import Checks

    run_dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = run_dir
    # python workers import the package through PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    load_before = os.getloadavg()
    probe_before = cpu_probe_ms()
    cpu_before = cpu_times()
    t0 = time.monotonic()
    spark = build_spark(f"perfbench-{args.workload}", run_dir)
    session_s = time.monotonic() - t0
    try:
        env = environment(spark)
        env["loadavg_before"] = load_before
        env["cpu_probe_ms_before"] = probe_before
        checks = Checks()
        cls = workloads.WORKLOADS[args.workload]
        wl = cls(spark, args.seed, run_dir, checks)
        e2e, layers, report = wl.run(args.seconds, bool(args.trace), session_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    env["loadavg_after"] = os.getloadavg()
    env["steal_frac"] = steal_frac(cpu_before, cpu_times())
    env["cpu_probe_ms_after"] = cpu_probe_ms()

    report = {"workload": args.workload, "seed": args.seed, "env": env,
              "failures": checks.first_failures, **report}
    print(json.dumps(report, sort_keys=True))
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    lines = [f"  {k:<44} {m['value']:>14.6g} {m['unit']}" for k, m in metrics.items()]
    frac = checks.failed / max(1, checks.attempted)
    print(f"perfbench {args.workload} seed={args.seed}: failed_frac={frac:g} "
          f"({checks.failed}/{checks.attempted})\n" + "\n".join(lines), file=sys.stderr)
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
