#!/usr/bin/env python3
"""Seeded benchmark of the simba-pyspark engine.

    python3 perfbench/run.py --workload index_rw --seed 1 --seconds 5 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, sets the engine up, runs a closed loop of the workload's ops for
``--seconds`` (one client, the next op starts when the last one has
finished), checks every op's output, and prints one JSON object as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the Spark event log is on, every call into the engine runs
in its own span and job group, and the metrics are the per-layer ones.
The line before it carries the workload's op-level detail. Workloads,
metrics and inputs are described in ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("index_rw", "batch")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "simba_spark", "__init__.py")):
        print("perfbench: the simba_spark package is not next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    out_dir = os.path.join(HERE, "out")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every scratch file of Spark, the JVM and Python inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    bench = workloads.Bench(args.workload, args.seed, args.seconds,
                            bool(args.trace), work, out_dir)
    try:
        result, detail = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
