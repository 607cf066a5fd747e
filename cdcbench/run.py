"""CDC benchmark entry point.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root: the engine package ``tipoca_stream_spark``
is imported from the current directory, and every file the run writes
lives under ``.cdcbench_work/`` there (removed when the run ends; traced
runs leave their spans in ``.cdcbench_out/``). Prints one line per metric
(``name value unit``), a ``record`` line with the run's context, and as
the last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics untraced, the per-layer metrics
traced (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("upsert_zipf_json", "serve_during_stream")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def benchmark_spec() -> dict:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "tipoca_stream_spark")):
        print(f"cdcbench: no tipoca_stream_spark package under {root}; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    # executor-side Python workers (the Avro decode's mapInPandas) import
    # the engine too, so it must be on their path, not only the driver's
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    work = os.path.join(root, ".cdcbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        from drive import run_workload

        out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), work,
                           os.path.join(root, ".cdcbench_out"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    spec = benchmark_spec()
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    missing = [n for n in names if n not in out["metrics"]]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {n: {"value": out["metrics"][n], "unit": units[n]} for n in names}
    for n in names:
        print(f"{n} {out['metrics'][n]:.6g} {units[n]}")
    print("record " + json.dumps(out["record"], sort_keys=True))
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
