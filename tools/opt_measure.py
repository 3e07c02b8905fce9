"""Optimization-round measurement: dump `.explain("formatted")` for every
headline query into plans/$SPARK_GRAFT_ROUND/<query>_{before,after}.txt
(default plans/r15/) and record
per-query plan-shape stats (Exchange count, join strategies, Python
boundary nodes) plus the number of Spark jobs each query's BUILD +
noop-sink RUN issues (job count x scheduler latency is the fixed
overhead floor at small SF).

Usage:
  python tools/opt_measure.py before [sf_dir] [--only a,b,c] [--run]
  python tools/opt_measure.py after  [sf_dir] [--only a,b,c] [--run]

Without --run only the plan is captured (no noop execution, but note
eager builders — pagerank, ANN builds — still run their build jobs).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod
from labs_stream_processing_examples_scala_spark import get_spark
from tools.plan_audit import plan_of, shuffle_exchange_count

import bench as benchmod


def plan_stats(plan: str) -> dict:
    return {
        "exchanges": shuffle_exchange_count(plan),
        "smj": plan.count("SortMergeJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "batch_eval_py": plan.count("BatchEvalPython"),
        "arrow_eval_py": plan.count("ArrowEvalPython"),
        "map_in_arrow": plan.count("MapInArrow"),
        "map_in_pandas": plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInPandas"),
        "window": plan.count(") Window"),
        "take_ordered": plan.count("TakeOrderedAndProject"),
    }


def job_ids(spark) -> set[int]:
    st = spark.sparkContext._jsc.sc().statusTracker()
    return set(st.getJobIdsForGroup(None))


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = "/root/testdata/sf0.1"
    args = sys.argv[2:]
    if args and not args[0].startswith("--"):
        sf_dir = args[0]
        args = args[1:]
    run = "--run" in args
    names = list(benchmod.HEADLINE)
    if "--only" in args:
        idx = args.index("--only")
        if idx + 1 >= len(args):  # r14 ADVICE: trailing --only raised IndexError
            raise SystemExit("usage: --only name1,name2,...")
        names = args[idx + 1].split(",")

    import os as _os

    round_dir = _os.environ.get("SPARK_GRAFT_ROUND", "r15")
    out_dir = Path(__file__).resolve().parent.parent / "plans" / round_dir
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark(app_name=f"opt-measure-{tag}")
    qs = entrymod.queries()
    benchmod.warmup(spark, sf_dir)

    stats: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"opt-measure {tag}: {name} build")
        before_jobs = job_ids(spark)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        build_sec = time.perf_counter() - t0
        build_jobs = len(job_ids(spark) - before_jobs)
        plan = plan_of(df)
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        s = plan_stats(plan)
        s["build_jobs"] = build_jobs
        s["build_sec"] = round(build_sec, 3)
        if run:
            spark.sparkContext.setJobDescription(f"opt-measure {tag}: {name} run")
            before_jobs = job_ids(spark)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            s["run_sec"] = round(time.perf_counter() - t0, 3)
            s["run_jobs"] = len(job_ids(spark) - before_jobs)
        stats[name] = s
        print(f"{name}: {json.dumps(s)}", flush=True)

    (out_dir / f"_stats_{tag}.json").write_text(json.dumps(stats, indent=1))
    try:
        from labs_stream_processing_examples_scala_spark.session import (
            invalidate,
            release_persisted_rdds,
        )

        invalidate()
        release_persisted_rdds(spark)
        spark.stop()
    except Exception as e:  # noqa: BLE001
        print(f"cleanup failed: {e}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
