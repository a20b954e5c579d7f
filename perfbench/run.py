#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The run builds its
inputs from ``--seed``, starts one Spark session at ``local[k]`` (k =
min(4, cores) unless ``--cores`` says otherwise), runs an untimed
warm-up round, then a fixed number of whole timed rounds,
``max(min_rounds, seconds // round_s)`` with both set per workload,
checks outputs against computations made apart from
the program, and prints one JSON object as the last line of stdout:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

``--trace 0`` reports every end-to-end metric of ``BENCHMARK.json``;
``--trace 1`` reports every per-layer metric of it (a layer the
workload never calls reads 0) and writes the spans to
``perfbench/.out/trace-<workload>-<seed>.json``. All scratch files stay
under ``perfbench/.work`` and are removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.monotonic()  # setup_s counts from here, the process's start

import argparse
import importlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("record_ingest", "corpus_dedup")


def _prepare_env(work: str, cores: int) -> None:
    """Keep every file the run makes inside the checkout and pin the
    session's size. Must run before pyspark or tempfile are used."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def manifest_metrics(trace: bool) -> dict[str, str]:
    """name -> unit of the metrics ``BENCHMARK.json`` asks a run to
    print: the end-to-end ones untraced, the per-layer ones traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    return {m["name"]: m["unit"] for m in manifest["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1),
                    help="k of the local[k] master (default: min(4, cores))")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ingest_spark")):
        print("perfbench: the program (ingest_spark/) is not in this checkout",
              file=sys.stderr)
        return 2
    wanted = manifest_metrics(bool(args.trace))
    cores = max(1, min(args.cores, os.cpu_count() or 1))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, cores)
    sys.path.insert(0, ROOT)
    try:
        from common import Outcome, Tracer

        mod = importlib.import_module(f"w_{args.workload}")
        tracer = Tracer(enabled=bool(args.trace))
        out = Outcome()
        mod.run(
            seed=args.seed, seconds=args.seconds, cores=cores, work=work,
            tracer=tracer, out=out, t_start=T_START,
        )
        if args.trace:
            out.zero_uncalled_layers(wanted, mod.LAYERS)
        out.require(wanted)
        if args.trace:
            tracer.dump(os.path.join(HERE, ".out", f"trace-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in out.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(out.line(), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
