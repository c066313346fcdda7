"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 5 --trace 0

Workloads: ``batch_queries``, ``stream_replay``, ``route_ingest`` (see
``layers.py`` for which ``BENCHMARK.json`` lists, and the workload modules
for why each exists).  The run generates its inputs from
``--seed`` into a scratch directory inside the checkout, starts Spark on
``local[<cpus>]``, warms up, measures for about ``--seconds``, checks the
outputs, and removes the scratch directory.

Standard output: a human-readable summary (every end-to-end metric by name
with its unit), then as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the metrics
are the end-to-end metrics of ``layers.END_TO_END``; with ``--trace 1`` the
run measures twice in one process, untraced then traced, reports the
per-layer metrics of ``layers.PER_LAYER`` (including self time per layer and
the tracing overhead) and writes the spans to
``.perfbench-traces/<workload>-seed<seed>.json``.  The exit code is 1 when an
output check failed and 2 when the run could not start.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
from measure import Tracer, layer_self_times, peak_rss_mb  # noqa: E402

PACKAGE = "anomaly_detection_in_time_series_data_spark"


class Ctx:
    """What a workload needs: the checkout root, a scratch dir, the seed,
    the run length, the live SparkSession, and a disabled tracer."""

    def __init__(self, root: str, work: str, seed: int, seconds: float) -> None:
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.spark = None
        self.off = Tracer(False, "untraced")
        self.notes: list[str] = []

    def note(self, text: str) -> None:
        self.notes.append(text)


def _workload(name: str, ctx: Ctx):
    if name == "batch_queries":
        from batch_queries import Workload
    elif name == "stream_replay":
        from stream_replay import Workload
    else:
        from route_ingest import Workload
    return Workload(ctx)


def _isolate(work: str) -> None:
    """Keep every file Spark and Python write under ``work`` and size the
    engine to this machine's cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The JVM that spark-submit runs first to build the driver command.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("ADTS_DRIVER_MEM", "2g")


def _spark_conf(work: str) -> dict[str, str]:
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>.
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=layers.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=root)
    ctx = Ctx(root, work, args.seed, args.seconds)
    tracer = Tracer(bool(args.trace), uuid.uuid4().hex[:12])
    try:
        _isolate(work)
        wl = _workload(args.workload, ctx)
        t_gen = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t_gen

        from anomaly_detection_in_time_series_data_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session.start"):
            ctx.spark = get_spark(f"perfbench-{args.workload}", extra_conf=_spark_conf(work))
        t1 = time.perf_counter()
        with tracer.span("session.warm_pass"):
            wl.warm()
        t2 = time.perf_counter()
        setup_s = t2 - T_START - gen_s

        named = wl.measure(ctx.off)
        jvm = _jvm_pid()
        common = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb(jvm)}
        per_layer: dict[str, float] = {}
        checked = [wl]
        if args.trace:
            traced = wl.measure(tracer)
            rss_traced = peak_rss_mb(jvm)
            per_layer = wl.layer_metrics(tracer)
            companion = layers.TRACED_WITH.get(args.workload)
            if companion:
                extra = _workload(companion, ctx)
                extra.prepare()
                extra.warm()
                extra.measure(tracer)
                per_layer.update(extra.layer_metrics(tracer))
                checked.append(extra)
            per_layer["session.start_s"] = t1 - t0
            per_layer["session.warm_pass_s"] = t2 - t1
            for layer, v in layer_self_times(tracer.spans, list(layers.LAYERS)).items():
                per_layer[f"self_s.{layer}"] = v
            generic = _generic(args.workload, named)
            generic_t = _generic(args.workload, traced)
            for k in generic:
                per_layer[f"trace_overhead.{k}"] = generic_t[k] - generic[k]
            per_layer["trace_overhead.peak_rss_mb"] = rss_traced - common["peak_rss_mb"]

        attempted = failed = 0
        notes: list[str] = []
        for w in checked:
            attempted += sum(w.attempts(r) for r in w.runs)
            bad, msgs = w.check()
            failed += bad + sum(r.errors for r in w.runs)
            notes += msgs
        failed = min(failed, attempted)
    finally:
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    _summary(args, wl, named, common, attempted, failed, notes, ctx.notes)
    if args.trace:
        metrics = {m.name: {"value": float(per_layer.get(m.name, 0.0)), "unit": m.unit}
                   for m in layers.PER_LAYER}
        _write_trace(root, args, tracer, per_layer)
    else:
        values = {**common, **_generic(args.workload, named)}
        metrics = {m.name: {"value": float(values[m.name]), "unit": m.unit}
                   for m in layers.END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


def _jvm_pid() -> int:
    """The driver JVM: PySpark's gateway process (``spark-submit`` execs
    ``java``, so the launched pid is the JVM's)."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _generic(workload: str, named: dict[str, float]) -> dict[str, float]:
    spec = layers.WORKLOAD_METRICS[workload]["generic"]
    return {g: named[n] for g, n in spec.items()}


def _summary(args, wl, named, common, attempted, failed, notes, ctx_notes) -> None:
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}: {wl.describe()}")
    units = {**layers.COMMON, **layers.WORKLOAD_METRICS[args.workload]["names"]}
    values = {**common, **named, "error_rate": failed / attempted if attempted else 1.0}
    for name, unit in units.items():
        print(f"#   {name:<30} {values[name]:>14.6g} {unit}")
    print(f"#   ({failed} of {attempted} operations failed)")
    for line in ctx_notes:
        print(f"#   note: {line}")
    for line in notes:
        print(f"#   CHECK FAILED: {line}")


def _write_trace(root: str, args, tracer: Tracer, per_layer: dict[str, float]) -> None:
    out_dir = os.path.join(root, ".perfbench-traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"run_id": tracer.run_id, "workload": args.workload, "seed": args.seed,
                   "spans": tracer.to_json(), "per_layer": per_layer}, f)
    print(f"# spans: {len(tracer.spans)} written to {os.path.relpath(path, root)}")


if __name__ == "__main__":
    sys.exit(main())
