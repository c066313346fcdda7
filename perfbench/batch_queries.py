"""Workload ``batch_queries``: one client in a closed loop running the fixed
registry mix over generated fixture tables.

Each timed operation is one query: build its DataFrame (``minhash_lsh_pairs``
runs Spark jobs here) and execute it into the ``noop`` sink.  The seed
generates the tables and sets the query order of each pass.  The untimed
warm pass collects every query's result; after timing, each is checked
against the query's DuckDB ``ORACLE`` SQL with the comparison of
``tools/check_oracle.py``.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time
from dataclasses import dataclass, field

import gen
from layers import MIX
from measure import group_totals, median, tail

# Generated fixture scale: customer 1,500, orders 15,000, lineitem 60,000,
# events 10,000, documents and embeddings 500 rows.
SF = 0.01
SCAN_TABLES = ("events", "lineitem", "orders")


@dataclass
class Run:
    latencies: list[float] = field(default_factory=list)
    passes: list[float] = field(default_factory=list)
    executed: dict[str, int] = field(default_factory=dict)
    errors: int = 0
    per_query: dict[str, dict[str, list[float]]] = field(default_factory=dict)
    pass_bytes: list[tuple[int, int]] = field(default_factory=list)
    elapsed: float = 0.0


class Workload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "fixture")
        self.runs: list[Run] = []

    def describe(self) -> str:
        return f"closed loop, 1 client, {len(MIX)}-query mix, generated fixture sf={SF}"

    def prepare(self) -> None:
        gen.fixture_tables(self.ctx.seed, self.sf_dir, SF)

    def _run_query(self, name: str, tracer, group: str | None) -> tuple[float, float, float]:
        from anomaly_detection_in_time_series_data_spark.queries import QUERIES

        spark = self.ctx.spark
        if group:
            spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        with tracer.span("queries.build", query=name):
            df = QUERIES[name](spark, self.sf_dir)
        t1 = time.perf_counter()
        with tracer.span("queries.exec", query=name):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return t0, t1, t2

    def warm(self) -> None:
        """One untimed pass that also yields the outputs ``check`` compares:
        each query collected with ``toPandas``."""
        from anomaly_detection_in_time_series_data_spark.queries import QUERIES

        self.results = {}
        for name in MIX:
            try:
                self.results[name] = QUERIES[name](self.ctx.spark, self.sf_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 — reported by check()
                self.results[name] = exc

    def measure(self, tracer) -> dict[str, float]:
        sc = self.ctx.spark.sparkContext
        run = Run()
        start = time.perf_counter()
        k = 0
        while time.perf_counter() - start < self.ctx.seconds:
            order = list(MIX)
            random.Random(self.ctx.seed * 1_000 + k).shuffle(order)
            pass_time, shuffle, spill = 0.0, 0, 0
            for name in order:
                group = f"{tracer.run_id}-{k}-{name}" if tracer.enabled else None
                run.executed[name] = run.executed.get(name, 0) + 1
                try:
                    t0, t1, t2 = self._run_query(name, tracer, group)
                except Exception as exc:  # noqa: BLE001 — counted, run goes on
                    print(f"# {name} failed: {type(exc).__name__}: {str(exc)[:200]}")
                    run.errors += 1
                    continue
                run.latencies.append(t2 - t0)
                pass_time += t2 - t0
                if group:
                    tot = group_totals(sc, group)
                    pq = run.per_query.setdefault(name, {})
                    for key, val in (
                        ("build_s", t1 - t0),
                        ("exec_s", t2 - t1),
                        ("jobs", tot.jobs),
                        ("tasks", tot.tasks),
                        ("cores_busy", tot.run_s / (t2 - t0)),
                    ):
                        pq.setdefault(key, []).append(val)
                    shuffle += tot.shuffle_bytes
                    spill += tot.spill_bytes
            run.passes.append(pass_time)
            run.pass_bytes.append((shuffle, spill))
            k += 1
        run.elapsed = time.perf_counter() - start
        if tracer.enabled:
            sc.setJobGroup("", "")
        self.runs.append(run)
        p, tail_v, n = tail(run.latencies)
        self.ctx.note(f"query_tail_s is p{p:.1f} of {n} queries over {len(run.passes)} passes")
        return {
            "query_p50_s": median(run.latencies),
            "query_tail_s": tail_v,
            "mix_pass_s": median(run.passes),
            "queries_per_s": len(run.latencies) / run.elapsed,
        }

    def attempts(self, run: Run) -> int:
        return sum(run.executed.values())

    def layer_metrics(self, tracer) -> dict[str, float]:
        from anomaly_detection_in_time_series_data_spark.tables import load_table

        run = self.runs[-1]
        out: dict[str, float] = {}
        for name in MIX:
            for key, vals in run.per_query.get(name, {}).items():
                out[f"queries.{name}.{key}"] = median(vals)
        out["queries.shuffle_bytes"] = median([b[0] for b in run.pass_bytes])
        out["queries.spill_bytes"] = median([b[1] for b in run.pass_bytes])
        out["e2e.mix_pass_s"] = median(run.passes)
        # Table scans on their own, after the timed loop: a full scan of each
        # fact table into the noop sink, three times, median.
        spark = self.ctx.spark
        sc = spark.sparkContext
        for table in SCAN_TABLES:
            times, tasks = [], []
            for i in range(3):
                group = f"{tracer.run_id}-scan-{table}-{i}"
                sc.setJobGroup(group, table)
                t0 = time.perf_counter()
                with tracer.span("tables.scan", table=table):
                    load_table(spark, self.sf_dir, table).write.format("noop").mode(
                        "overwrite"
                    ).save()
                times.append(time.perf_counter() - t0)
                tasks.append(group_totals(sc, group).tasks)
            out[f"tables.scan_s.{table}"] = median(times)
            if table == "events":
                out["tables.scan_tasks.events"] = median(tasks)
        sc.setJobGroup("", "")
        return out

    def check(self) -> tuple[int, list[str]]:
        """Each mix query's warm-pass output against its oracle; a wrong
        query fails every execution of it in every measured run."""
        import duckdb

        from anomaly_detection_in_time_series_data_spark.queries import ORACLE
        from anomaly_detection_in_time_series_data_spark.tables import TABLE_NAMES

        compare = _check_oracle(self.ctx.root).compare
        con = duckdb.connect()
        for t in TABLE_NAMES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        failed, notes = 0, []
        for name in MIX:
            got = self.results[name]
            if isinstance(got, Exception):
                ok, msg = False, f"{type(got).__name__}: {str(got)[:200]}"
            else:
                try:
                    ok, msg = compare(name, got, con.execute(ORACLE[name]).df())
                except Exception as exc:  # noqa: BLE001 — a crash is a failed check
                    ok, msg = False, f"{type(exc).__name__}: {str(exc)[:200]}"
            if not ok:
                failed += sum(r.executed.get(name, 0) for r in self.runs)
                notes.append(f"{name}: {msg}")
        con.close()
        return failed, notes


def _check_oracle(root: str):
    """``tools/check_oracle.py`` of the checkout, imported by path (it is a
    script, not a package module)."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
