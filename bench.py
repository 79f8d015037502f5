"""Driver bench contract: run the entries marked ``bench`` in the
registry (fences_spark/entry_queries.py ``ENTRIES``) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is collected (or counted) so the full plan executes.  A
first warm-up action absorbs JVM/codegen startup so the numbers
measure the plans, not the JIT.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    # optional composite-pipeline mode: `python bench.py --pipeline [ROWS]`
    # runs the end-to-end curation pipeline bench (scripts/bench_pipeline.py)
    # instead of the per-query headline suite.
    if len(sys.argv) > 1 and sys.argv[1] == "--pipeline":
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts"))
        import bench_pipeline

        rows = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000_000
        print(json.dumps(bench_pipeline.run(rows, CPUS, None)))
        return

    from fences_spark.entry_queries import ENTRIES
    from fences_spark.session import get_spark

    spark = get_spark(app="fences_spark_bench", cores=CPUS, shuffle_partitions=CPUS)

    # warm-up: trivial job through the whole stack
    spark.range(100000).selectExpr("sum(id)").collect()

    timings: dict[str, float] = {}
    total = 0.0
    sf = SF_DIR.rstrip("/").split("sf")[-1]

    # untimed warm-up pass over every headline query: the first
    # execution of each distinct plan pays one-time JVM JIT/codegen
    # compilation and cold OS page-cache reads of the parquet inputs
    # (observed 2x on the whole suite from a cold container).  Those
    # are per-process/per-boot costs, not plan costs — a long-lived
    # cluster pays them once, so the baseline tracks the warm plan.
    headline = [e for e in ENTRIES if e.bench]
    for e in headline:
        e.build(spark, SF_DIR).count()

    for e in headline:
        # min over repeats absorbs host scheduling jitter on this
        # shared box; sub-second plans get extra repeats because their
        # wall is jitter-dominated (observed up to 3x run-to-run on
        # unchanged plans at <0.5s), and >1s plans get min-of-3 so a
        # single co-tenant burst can't inflate the driver-visible
        # number (r4's mix_quota_docs/pack_docs outliers were exactly
        # that: byte-identical plans, 3x wall under shared-host load).
        best, n, reps = float("inf"), 0, 3
        for rep in range(5):
            if rep >= reps:
                break
            t0 = time.time()
            df = e.build(spark, SF_DIR)
            n = df.count()
            best = min(best, time.time() - t0)
            if best < 0.6:
                reps = 4
        timings[e.name] = round(best, 3)
        total += best
        print(f"# {e.name}: {n} rows in {best:.2f}s (min of {reps})", file=sys.stderr)

    # skew-stress block (north rule: explicit skew handling) — the
    # same skew-sensitive jobs on a uniform vs a pathologically skewed
    # input of identical size; criterion wall(skewed) <= 2x
    # wall(uniform) per job, plus plan evidence that AQE's skew-join
    # split actually fired.  Disable with SPARK_GRAFT_SKIP_SKEW=1.
    skew_block = None
    if os.environ.get("SPARK_GRAFT_SKIP_SKEW", "0") != "1":
        from fences_spark.skewbench import run_skew_stress

        skew_rows = int(os.environ.get("SPARK_GRAFT_SKEW_ROWS", "2000000"))
        skew_block = run_skew_stress(spark, n=skew_rows).as_dict()

    out = {
        "metric": "headline_queries_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
    }
    if skew_block is not None:
        out["skew_stress"] = skew_block
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
