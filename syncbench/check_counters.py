#!/usr/bin/env python3
"""Check that the traced run's Spark counters repeat exactly.

Runs each workload traced twice on one seed and once untraced, then
requires every ``*.jobs``, ``*.stages``, ``*.tasks``,
``*.shuffle_read_bytes`` and ``*.shuffle_write_bytes`` metric to be
equal between the two traced runs, the event log to be on in the traced
runs and off in the untraced one.  Run it from the repository root:

    python3 syncbench/check_counters.py [--seed 1] [--seconds 10] [workload ...]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = (".jobs", ".stages", ".tasks", ".shuffle_read_bytes",
         ".shuffle_write_bytes")
WORKLOADS = ("snapshot_copy", "cdc_upsert", "vector_ingest")


def run_once(workload: str, seed: int, seconds: int, trace: int):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    return json.loads(out[-2])["syncbench_run"], json.loads(out[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()
    bad = []
    for w in args.workloads:
        (rec_a, a), (rec_b, b) = (run_once(w, args.seed, args.seconds, 1)
                                  for _ in range(2))
        rec_u, _ = run_once(w, args.seed, args.seconds, 0)
        if not (rec_a["event_log"] and rec_b["event_log"]):
            bad.append(f"{w}: event log off in a traced run")
        if rec_u["event_log"]:
            bad.append(f"{w}: event log on in the untraced run")
        names = [n for n in a["metrics"] if n.endswith(EXACT)]
        diff = [(n, a["metrics"][n]["value"], b["metrics"][n]["value"])
                for n in names
                if a["metrics"][n]["value"] != b["metrics"][n]["value"]]
        nonzero = sum(1 for n in names if a["metrics"][n]["value"])
        print(f"{w}: {len(names)} counters ({nonzero} non-zero), "
              f"{len(diff)} differ")
        # end-to-end figures of the traced runs, for the tracing overhead
        for rec in (rec_a, rec_b):
            print(f"{w}: traced end_to_end {json.dumps(rec['end_to_end'])}")
        for n, x, y in diff:
            bad.append(f"{w}: {n} {x} != {y}")
    for line in bad:
        print("MISMATCH", line)
    print("ALL PASS" if not bad else "FAILED")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
