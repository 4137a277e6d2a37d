#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Workloads: ``batch_mixed`` (closed
loop over registered operator ids) and ``serve_mixed`` (open-loop HTTP
traffic against the serving layer).  The
first run in a checkout generates the corpus and stages it with
``tools/prewarm.py``; later runs of the same engine revision reuse both.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, which holds the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0`` and its per-layer metrics with
``--trace 1``.  Lines before it, prefixed ``#``, are a readable summary;
the full record of every run is kept under ``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import common  # noqa: E402
from probes import process_start_time  # noqa: E402

WORKLOADS = ("batch_mixed", "serve_mixed")
#: A run that has not finished by then is stopped with a non-zero exit
#: (the corpus and staging build of a checkout's first run is extra).
RUN_LIMIT_S = 170


def _watchdog(limit: float) -> threading.Timer:
    def fire():
        sys.stderr.write(f"perfbench: run exceeded {limit:.0f} s, stopping\n")
        common.reap_children()
        os._exit(3)

    t = threading.Timer(limit, fire)
    t.daemon = True
    t.start()
    return t


def main() -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    common.check_checkout()
    spec = json.loads((common.ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["end_to_end" if not args.trace else "per_layer"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    run_tmp = common.WORK / "tmp" / str(os.getpid())
    common.configure_env(run_tmp)
    first_run = not (common.stage_dir() / "prep.json").exists()
    watchdog = _watchdog(900 if first_run else RUN_LIMIT_S)
    try:
        if args.workload == "serve_mixed":
            import serve

            res, detail = serve.run(args.seed, args.seconds, bool(args.trace), t_proc)
        else:
            import batch

            res, detail = batch.run(args.workload, args.seed, args.seconds, bool(args.trace), t_proc)
    finally:
        common.reap_children()
        shutil.rmtree(run_tmp, ignore_errors=True)
    watchdog.cancel()

    values = res["e2e"] if not args.trace else {**res["e2e"], **res["layers"]}
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    tag = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    common.emit(result, {**detail, "e2e": res["e2e"], "layers": res["layers"]}, tag)
    return 0


if __name__ == "__main__":
    sys.exit(main())
