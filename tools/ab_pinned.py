"""Pinned-code A/B for bench-band drift adjudication (round-13 verdict
task #2).

The sf0.1 defended band moved 56.62 s (r12) → 61.23 s (r13) with every
excess attributed to host contention via probes; two consecutive
host-attributed inflations need the stronger proof: interleave OLD-code
and NEW-code runs of the SAME tool in ONE window (alternating pairs,
same fixtures, probes on). If the paired ratio is ~1.0, the drift was
the host; a persistent code-attributed delta is a regression to fix.

Usage:
  python tools/ab_pinned.py --old /tmp/ab_r12 --new /root/repo \\
      [--tool bench] [--pairs 3] [--json AB.json]
      [--tool stream --n-rows 2000000]

--tool bench  : runs `python bench.py` (env SPARK_GRAFT_SF_DIR honored)
                and compares the headline `value` walls.
--tool stream : runs `python tools/stream_bench.py sf_dir n_rows` and
                compares the file_fed rows/sec (the r12→r13
                unadjudicated 907k→715k reading) plus fqueue_fed.

Each run's calibration probes ride along, so the artifact
self-annotates window quality. Output: per-pair walls, the
paired-median old/new ratio, and the verdict band (|delta| ≤ 3% =
host-attributed per the task).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def _run(tree: str, tool: str, sf_dir: str, n_rows: int) -> dict:
    if tool == "bench":
        cmd = [sys.executable, "bench.py"]
    else:
        cmd = [sys.executable, "tools/stream_bench.py", sf_dir, str(n_rows)]
    out = subprocess.run(
        cmd,
        cwd=tree,
        capture_output=True,
        text=True,
        timeout=1800,
        env={**__import__("os").environ, "SPARK_GRAFT_SF_DIR": sf_dir},
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--old", required=True)
    ap.add_argument("--new", default="/root/repo")
    ap.add_argument("--tool", choices=["bench", "stream"], default="bench")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--n-rows", type=int, default=2_000_000)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    pairs = []
    for i in range(args.pairs):
        # alternate which tree goes first so slow-drift contamination
        # cancels across the pair set
        order = [("old", args.old), ("new", args.new)]
        if i % 2 == 1:
            order.reverse()
        pair: dict = {}
        for tag, tree in order:
            t0 = time.time()
            rec = _run(tree, args.tool, args.sf_dir, args.n_rows)
            if args.tool == "bench":
                pair[tag] = {
                    "value": rec["value"],
                    "queries": rec.get("queries"),
                    "calibration": rec.get("calibration"),
                    "retries_n": rec.get("retries_n"),
                }
            else:
                pair[tag] = {
                    "file_fed": rec["file_fed"]["rows_per_sec"],
                    "fqueue_fed": rec["fqueue_fed"]["rows_per_sec"],
                    "calibration": rec.get("calibration"),
                }
            pair[tag]["wall_total_s"] = round(time.time() - t0, 1)
            print(
                f"pair {i} {tag}: {pair[tag].get('value') or pair[tag].get('file_fed')}",
                file=sys.stderr,
            )
        pairs.append(pair)

    if args.tool == "bench":
        ratios = [p["new"]["value"] / p["old"]["value"] for p in pairs]
    else:
        # file_fed is the unadjudicated leg; ratio <1 = new slower
        ratios = [p["old"]["file_fed"] / p["new"]["file_fed"] for p in pairs]
    med = statistics.median(ratios)
    record = {
        "metric": f"ab_pinned_{args.tool}",
        "old_tree": args.old,
        "new_tree": args.new,
        "pairs": pairs,
        "ratios_new_over_old" if args.tool == "bench" else "ratios_old_over_new": [
            round(r, 4) for r in ratios
        ],
        "median_ratio": round(med, 4),
        "code_attributed": abs(med - 1.0) > 0.03,
        "sf_dir": args.sf_dir,
    }
    if args.json:
        Path(args.json).write_text(json.dumps(record, indent=1))
    print(json.dumps({k: record[k] for k in ("metric", "median_ratio", "code_attributed")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
