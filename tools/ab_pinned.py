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
      [--tool perfbench --workload cdc_merge --seed 21 --seconds 10]

--tool bench  : runs `python bench.py` (env SPARK_GRAFT_SF_DIR honored)
                and compares the headline `value` walls.
--tool stream : runs `python tools/stream_bench.py sf_dir n_rows` and
                compares the file_fed rows/sec (the r12→r13
                unadjudicated 907k→715k reading) plus fqueue_fed.
--tool perfbench : runs `python3 perfbench/run.py --workload W --seed S
                --seconds N` (one seed per pair: --seed, --seed+1, …)
                and reports, for each end-to-end metric of the tree's
                BENCHMARK.json, each side's median and quartiles, the
                pairs the new tree won (ties count for neither), whether
                the win rule holds (at least 10 pairs, wins >= 9/10 of
                them and a median gap larger than the old side's IQR),
                and whether the new median is worse than the old by
                more than the metric's bound. Runs that were not
                `correct`, had `failed` > 0 or printed no result are
                counted per side.

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


def _run(tree: str, tool: str, sf_dir: str, n_rows: int, perfbench_args=()) -> dict:
    if tool == "bench":
        cmd = [sys.executable, "bench.py"]
    elif tool == "perfbench":
        cmd = [sys.executable, "perfbench/run.py", *perfbench_args]
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
    lines = out.stdout.strip().splitlines()
    if tool == "perfbench" and (out.returncode or not lines):
        # a run that printed no result counts against its side
        return {"correct": False, "failed": None, "metrics": {},
                "error": out.stderr.strip().splitlines()[-5:]}
    return json.loads(lines[-1])


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def perfbench_summary(pairs: list[dict], end_to_end: list[dict]) -> dict:
    """Per end-to-end metric: each side's median and quartiles over the
    pairs both sides reported, the pairs the new side won, the win rule
    (at least 10 pairs, >= 9/10 wins and a median gap above the old
    side's IQR, in the metric's better direction) and the bound check
    (new median worse than old by more than ``bound``, relative to the
    old median)."""
    out = {}
    for m in end_to_end:
        name, higher = m["name"], m["better"] == "higher"
        both = [
            (p["old"]["metrics"][name], p["new"]["metrics"][name])
            for p in pairs
            if name in p["old"]["metrics"] and name in p["new"]["metrics"]
        ]
        if not both:
            out[name] = {"pairs": 0}
            continue
        old, new = [o for o, _ in both], [n for _, n in both]
        oq, nq = _quartiles(old), _quartiles(new)
        wins = sum(1 for o, n in both if (n > o if higher else n < o))
        gap = (nq[1] - oq[1]) if higher else (oq[1] - nq[1])
        worse = -gap / oq[1] if oq[1] else 0.0
        out[name] = {
            "pairs": len(both),
            "old": {"median": oq[1], "q1": oq[0], "q3": oq[2]},
            "new": {"median": nq[1], "q1": nq[0], "q3": nq[2]},
            "wins": wins,
            "win_rule": len(both) >= 10 and wins >= 0.9 * len(both) and gap > oq[2] - oq[0],
            "worse_by": round(worse, 4),
            "beyond_bound": worse > m["bound"],
        }
    bad = {
        tag: sum(1 for p in pairs if not p[tag]["correct"] or p[tag]["failed"])
        for tag in ("old", "new")
    }
    return {"metrics": out, "bad_runs": bad}


def _print_perfbench(summary: dict, n_pairs: int) -> None:
    print(f"{'metric':<12} {'old median [q1, q3]':>30} {'new median [q1, q3]':>30}"
          f" {'wins':>6}  win_rule  beyond_bound", file=sys.stderr)
    for name, r in summary["metrics"].items():
        if not r["pairs"]:
            print(f"{name:<12} (no pair reported it)", file=sys.stderr)
            continue
        o, n = r["old"], r["new"]
        print(
            f"{name:<12} {o['median']:>12.4g} [{o['q1']:.4g}, {o['q3']:.4g}]"
            f" {n['median']:>12.4g} [{n['q1']:.4g}, {n['q3']:.4g}]"
            f" {r['wins']:>3}/{r['pairs']:<2}  {str(r['win_rule']):<8}  {r['beyond_bound']}",
            file=sys.stderr,
        )
    print(f"runs not correct or with failed > 0, of {n_pairs} per side: "
          f"old {summary['bad_runs']['old']}, new {summary['bad_runs']['new']}",
          file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--old", required=True)
    ap.add_argument("--new", default="/root/repo")
    ap.add_argument("--tool", choices=["bench", "stream", "perfbench"], default="bench")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--n-rows", type=int, default=2_000_000)
    ap.add_argument("--json", default=None)
    ap.add_argument("--workload", default="cdc_merge", help="perfbench workload")
    ap.add_argument("--seed", type=int, default=1, help="perfbench seed of pair 0")
    ap.add_argument("--seconds", type=int, default=10, help="perfbench --seconds")
    args = ap.parse_args()

    pairs = []
    for i in range(args.pairs):
        # alternate which tree goes first so slow-drift contamination
        # cancels across the pair set
        order = [("old", args.old), ("new", args.new)]
        if i % 2 == 1:
            order.reverse()
        pair: dict = {}
        seed = args.seed + i
        for tag, tree in order:
            t0 = time.time()
            rec = _run(tree, args.tool, args.sf_dir, args.n_rows, [
                "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(args.seconds),
            ])
            if args.tool == "perfbench":
                pair[tag] = {
                    "seed": seed,
                    "correct": rec["correct"],
                    "failed": rec["failed"],
                    "metrics": {k: v["value"] for k, v in rec["metrics"].items()},
                    **({"error": rec["error"]} if "error" in rec else {}),
                }
            elif args.tool == "bench":
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
                f"pair {i} {tag}: "
                f"{pair[tag].get('value') or pair[tag].get('file_fed') or pair[tag].get('metrics')}",
                file=sys.stderr,
            )
        pairs.append(pair)

    if args.tool == "perfbench":
        spec = json.loads((Path(args.new) / "BENCHMARK.json").read_text())
        summary = perfbench_summary(pairs, spec["end_to_end"])
        _print_perfbench(summary, len(pairs))
        record = {
            "metric": f"ab_pinned_perfbench_{args.workload}",
            "old_tree": args.old,
            "new_tree": args.new,
            "seconds": args.seconds,
            "pairs": pairs,
            **summary,
        }
        if args.json:
            Path(args.json).write_text(json.dumps(record, indent=1))
        print(json.dumps({
            "metric": record["metric"],
            "win_rule": {k: v.get("win_rule") for k, v in summary["metrics"].items()},
            "beyond_bound": {k: v.get("beyond_bound") for k, v in summary["metrics"].items()},
            "bad_runs": summary["bad_runs"],
        }))
        return 0

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
