"""Benchmark entry point.

    python3 perfbench/run.py --workload {pages,snippets} \
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout.  Prints progress on stderr and, as
the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end figures; with --trace 1 the
per-layer figures, and the recorded spans are written to
.perfbench-traces/<workload>-seed<N>.json in the checkout.

Every run makes a fixed set of operations, so that a faster program is
measured on the same inputs as a slower one; --seconds is accepted for the
command-line contract and does not change the work.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def pin_environment(run_dir: str) -> None:
    """Size Spark to this machine and keep every file it writes inside
    the run directory.  Must run before pyspark starts its JVM."""
    nproc = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    driver_gb = max(1, min(3, phys // 4 // 2**30))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    py_path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        # the session default is local[32]: 32 task threads whatever the box
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(py_path),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
            "pyspark-shell",
        ]),
    })
    tempfile.tempdir = tmp


def parse_args(argv):
    import gen

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(gen.PROFILES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import search_ingest_spark  # noqa: F401 — the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    run_dir = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
    try:
        pin_environment(run_dir)
        import workloads
        from spans import Tracer

        run = workloads.Run(args.workload, args.seed, Tracer(bool(args.trace)),
                            run_dir, T_START)
        try:
            workloads.pipeline(run)
            for k in workloads.UNITS:
                run.check(k in run.e2e, f"no {k}: every operation it times raised")
            if args.trace:
                run.layers["session.peak_rss_mb"] = run.peak_rss_mb()
                for k in workloads.LAYERS:
                    run.check(k in run.layers, f"no per-layer {k}")
        finally:
            run.stop_session()
            run.log("session stopped")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        metrics = {k: v for k, v in run.layers.items() if k in workloads.LAYERS}
        units = {k: layer_unit(k) for k in metrics}
        out_dir = os.path.join(ROOT, ".perfbench-traces")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.dump(
            os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed,
             "end_to_end": run.e2e, "per_layer": run.layers})
    else:
        metrics = run.e2e
        units = workloads.UNITS
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in sorted(metrics.items())},
    }))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes") or name == "codec.bytes_per_posting":
        return "B"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
