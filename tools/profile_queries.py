"""Per-query optimization profiler (guide §1): isolate queries with the
noop sink, label jobs, capture explain("formatted"), and report N-run
timings (median) so before/after claims rest on more than one sample.

Each run is split in two phases, each under its own job group: ``build``
(the registry callable returning the DataFrame — checkpoints, schema
inference and Python-side expression building land here) and ``exec``
(the noop write).  Both report seconds and the Spark job count read back
from ``statusTracker``.

    python tools/profile_queries.py [--sf sf_dir] [--runs N] [--plans DIR] \
        [--suffix before] name [name ...]

Writes plans to plans/r12/<name>_<suffix>.txt when --plans/--suffix given.
Prints one JSON line: {"name": {"runs": [...], "median": s,
"build_s": [...], "exec_s": [...], "build_jobs": [...], "exec_jobs": [...]},
...} where ``runs`` are whole-run (build + exec) seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from anomaly_detection_in_time_series_data_spark.session import get_spark
from anomaly_detection_in_time_series_data_spark import queries as q


def _jobs(sc, group: str) -> int:
    """Spark jobs run so far under job group ``group``."""
    return len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None)
    ap.add_argument("--suffix", default=None)
    args = ap.parse_args()

    spark = get_spark("adts-profile")
    sc = spark.sparkContext
    spark.range(1_000).selectExpr("sum(id)").collect()  # JVM warm
    out: dict[str, dict] = {}
    for name in args.names:
        fn = q.QUERIES[name]
        if args.plans and args.suffix:
            os.makedirs(args.plans, exist_ok=True)
            plan = fn(spark, args.sf)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(
                os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
        sc.setJobDescription(f"warmup: {name}")
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        phases: dict[str, list] = {k: [] for k in ("runs", "build_s", "exec_s")}
        groups = [f"profile-{os.getpid()}-{name}-{i}" for i in range(args.runs)]
        for i, group in enumerate(groups):
            sc.setJobGroup(f"{group}-build", f"run{i}: {name} build")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{group}-exec", f"run{i}: {name} exec")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            phases["runs"].append(round(t2 - t0, 3))
            phases["build_s"].append(round(t1 - t0, 3))
            phases["exec_s"].append(round(t2 - t1, 3))
        sc.setJobGroup("", "")
        # read after all runs: the status store is fed asynchronously
        for phase in ("build", "exec"):
            phases[f"{phase}_jobs"] = [_jobs(sc, f"{g}-{phase}") for g in groups]
        sc.setJobDescription(None)
        out[name] = {"median": statistics.median(phases["runs"]), **phases}
        print(
            f"# {name}: median {out[name]['median']}s {phases['runs']}"
            f" | build median {statistics.median(phases['build_s'])}s"
            f" jobs {phases['build_jobs']}"
            f" | exec median {statistics.median(phases['exec_s'])}s"
            f" jobs {phases['exec_jobs']}",
            file=sys.stderr,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
