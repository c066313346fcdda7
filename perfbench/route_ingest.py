"""Workload ``route_ingest``: seeded nested ``schemas.ROUTES`` records as
JSONL.gz, ingested and written in every encoding, then probed for the
nearest airport.

The timed ingest is ``read_jsonl`` + ``with_validation_flags`` (one count of
valid and corrupt rows), then ``write_parquet``, ``write_avro``,
``write_routes_proto_shards`` and ``write_geoindex`` (which calls the
``geohash`` UDF) of the valid rows.  After it, one client runs seeded
``nearest_in_geoindex`` probes in a closed loop for the rest of the run.
The airport count sets the number of geoindex shards, which lookup and
write cost scale with.

Outputs are checked after timing: the row count of each encoding, an Avro
and a protobuf round trip (``read_avro``, ``decode_routes``) against the
parquet copy, and each lookup against a brute-force haversine nearest.
"""

from __future__ import annotations

import glob
import gzip
import os
import time
from dataclasses import dataclass, field

import gen
from measure import group_totals, median, tail

ROUTES = gen.Routes(routes=5_000, airports=50, probes=400)
WARM = gen.Routes(routes=500, airports=50, probes=1)
MIN_PROBES = 10


def _bytes(path: str) -> int:
    return sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )


@dataclass
class Run:
    dir: str
    stages: dict[str, float] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)
    probes: list[tuple[float, float]] = field(default_factory=list)
    answers: list[dict | None] = field(default_factory=list)
    lookup_s: list[float] = field(default_factory=list)
    lookup_jobs: list[int] = field(default_factory=list)
    lookup_tasks: list[int] = field(default_factory=list)
    sizes: dict[str, int] = field(default_factory=dict)
    named: dict[str, float] = field(default_factory=dict)
    errors: int = 0


class Workload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.runs: list[Run] = []
        self._k = 0

    def describe(self) -> str:
        return (
            f"{ROUTES.routes} routes over {ROUTES.airports} airports; ingest once, then "
            f"closed-loop nearest-airport probes (1 client, at least {MIN_PROBES})"
        )

    def prepare(self) -> None:
        seed = self.ctx.seed
        base = os.path.join(self.ctx.work, "input")
        self.input = gen.routes_jsonl(seed, os.path.join(base, "routes.jsonl.gz"), ROUTES)
        self.warm_input = gen.routes_jsonl(seed, os.path.join(base, "warm.jsonl.gz"), WARM)
        self.ports = gen.airports(seed, ROUTES.airports)
        self.points = gen.probe_points(seed, self.ports, ROUTES.probes)

    # -- the pipeline ---------------------------------------------------------

    def _ingest(self, src: str, out: str, tracer, run: Run) -> None:
        from pyspark.sql import functions as F

        from anomaly_detection_in_time_series_data_spark import schemas
        from anomaly_detection_in_time_series_data_spark.sources.avro_fallback import (
            write_avro,
        )
        from anomaly_detection_in_time_series_data_spark.sources.proto_routes import (
            write_routes_proto_shards,
        )
        from anomaly_detection_in_time_series_data_spark.sources.readers import (
            read_jsonl,
            with_validation_flags,
        )
        from anomaly_detection_in_time_series_data_spark.sources.writers import (
            write_geoindex,
            write_parquet,
        )

        spark = self.ctx.spark

        def stage(name: str, span: str, fn):
            t0 = time.perf_counter()
            with tracer.span(span):
                result = fn()
            run.stages[name] = time.perf_counter() - t0
            return result

        def read_validate():
            flagged = with_validation_flags(
                read_jsonl(spark, src, schemas.ROUTES), ["airline", "src_airport"]
            )
            row = flagged.agg(
                F.count("*").alias("rows"),
                F.count_if("valid").alias("valid"),
                F.count_if(F.col("_corrupt").isNotNull()).alias("corrupt"),
            ).collect()[0]
            return flagged, row

        flagged, row = stage("read_validate", "sources.readers.read_validate", read_validate)
        run.counts.update(rows=row["rows"], valid=row["valid"], corrupt=row["corrupt"])
        valid = flagged.filter("valid").drop("_corrupt", "valid")
        stage("parquet", "sources.writers.write_parquet",
              lambda: write_parquet(valid, os.path.join(out, "parquet")))
        stage("avro", "sources.avro_fallback.write_avro",
              lambda: write_avro(valid, os.path.join(out, "avro")))
        route = valid.select(F.struct(*valid.columns).alias("route"))
        stage("proto", "sources.proto_routes.write_routes_proto_shards",
              lambda: write_routes_proto_shards(route, os.path.join(out, "proto")))
        points = valid.select(
            F.col("src_airport.latitude").alias("lat"),
            F.col("src_airport.longitude").alias("lon"),
            F.col("src_airport.iata").alias("iata"),
            F.col("airline.iata").alias("airline"),
        )
        stage("geoindex", "sources.writers.write_geoindex",
              lambda: write_geoindex(points, os.path.join(out, "geoindex"), "lat", "lon"))
        self._points_df = points

    def _probe(self, index: str, lat: float, lon: float, tracer, group: str | None):
        from anomaly_detection_in_time_series_data_spark.sources.writers import (
            nearest_in_geoindex,
        )

        if group:
            self.ctx.spark.sparkContext.setJobGroup(group, "lookup")
        with tracer.span("sources.writers.nearest_in_geoindex"):
            return nearest_in_geoindex(self.ctx.spark, index, lat, lon)

    def warm(self) -> None:
        out = os.path.join(self.ctx.work, "warm")
        run = Run(out)
        self._ingest(self.warm_input.path, out, self.ctx.off, run)
        lat, lon = self.points[0]
        self._probe(os.path.join(out, "geoindex"), lat, lon, self.ctx.off, None)

    # -- measurement ----------------------------------------------------------

    def measure(self, tracer) -> dict[str, float]:
        sc = self.ctx.spark.sparkContext
        out = os.path.join(self.ctx.work, f"run{self._k}")
        self._k += 1
        run = Run(out)
        start = time.perf_counter()
        self._ingest(self.input.path, out, tracer, run)
        ingest_s = sum(run.stages.values())
        index = os.path.join(out, "geoindex")
        i = 0
        while i < MIN_PROBES or time.perf_counter() - start < self.ctx.seconds:
            lat, lon = self.points[i % len(self.points)]
            group = f"{tracer.run_id}-probe-{self._k}-{i}" if tracer.enabled else None
            t0 = time.perf_counter()
            try:
                answer = self._probe(index, lat, lon, tracer, group)
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                print(f"# probe {i} failed: {type(exc).__name__}: {str(exc)[:200]}")
                run.errors += 1
                answer = None
            run.lookup_s.append(time.perf_counter() - t0)
            run.probes.append((lat, lon))
            run.answers.append(answer)
            if group:
                tot = group_totals(sc, group)
                run.lookup_jobs.append(tot.jobs)
                run.lookup_tasks.append(tot.tasks)
            i += 1
        if tracer.enabled:
            sc.setJobGroup("", "")
        run.sizes = {k: _bytes(os.path.join(out, k)) for k in ("parquet", "avro", "proto", "geoindex")}
        self.runs.append(run)
        p, tail_v, n = tail(run.lookup_s)
        self.ctx.note(f"lookup_tail_s is p{p:.1f} of {n} probes; ingest took {ingest_s:.3f} s")
        run.named = {
            "ingest_rows_per_s": run.counts["rows"] / ingest_s,
            "lookup_p50_s": median(run.lookup_s),
            "lookup_tail_s": tail_v,
            "stored_bytes_per_input_byte": sum(run.sizes.values())
            / os.path.getsize(self.input.path),
        }
        return run.named

    def attempts(self, run: Run) -> int:
        return len(run.stages) + len(run.probes)

    def layer_metrics(self, tracer) -> dict[str, float]:
        from anomaly_detection_in_time_series_data_spark.functions.geohash import encode_udf
        from pyspark.sql import functions as F

        run = self.runs[-1]
        # The geohash UDF on its own, after the timed region: encode every
        # valid point into the noop sink, three times, median.
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            with tracer.span("functions.geohash.encode_udf"):
                self._points_df.select(encode_udf(F.col("lat"), F.col("lon"))).write.format(
                    "noop"
                ).mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        index = os.path.join(run.dir, "geoindex")
        return {
            "sources.readers.read_validate_s": run.stages["read_validate"],
            "sources.readers.corrupt_rows": run.counts["corrupt"],
            "functions.geohash.encode_s": median(times),
            "sources.writers.parquet_write_s": run.stages["parquet"],
            "sources.writers.geoindex_write_s": run.stages["geoindex"],
            "sources.writers.geoindex_files": len(
                glob.glob(os.path.join(index, "**", "part-*"), recursive=True)
            ),
            "sources.writers.geoindex_bytes": run.sizes["geoindex"],
            "sources.writers.lookup_jobs": median(run.lookup_jobs),
            "sources.writers.lookup_tasks": median(run.lookup_tasks),
            "sources.avro_fallback.write_s": run.stages["avro"],
            "sources.avro_fallback.bytes": run.sizes["avro"],
            "sources.proto_routes.write_s": run.stages["proto"],
            "sources.proto_routes.bytes": run.sizes["proto"],
            **{f"e2e.{k}": v for k, v in run.named.items()},
        }

    # -- output checks ----------------------------------------------------------

    def check(self) -> tuple[int, list[str]]:
        failed, notes = 0, []
        for run in self.runs:
            bad_stages, bad_probes, msgs = self._check_run(run)
            failed += bad_stages + bad_probes
            notes += [f"{os.path.basename(run.dir)}: {m}" for m in msgs]
        return failed, notes

    def _check_run(self, run: Run) -> tuple[int, int, list[str]]:
        from anomaly_detection_in_time_series_data_spark.sources.avro_fallback import read_avro
        from anomaly_detection_in_time_series_data_spark.sources.proto_routes import (
            decode_routes,
        )

        spark = self.ctx.spark
        msgs: list[str] = []
        bad = 0
        want = self.input.valid
        if run.counts.get("valid") != want or run.counts.get("corrupt") != self.input.corrupt:
            msgs.append(f"read_validate: counts {run.counts}, want valid={want} "
                        f"corrupt={self.input.corrupt}")
            bad += 1
        keys = ["airline.iata", "src_airport.iata", "dst_airport.iata", "codeshare"]
        parquet = spark.read.parquet(os.path.join(run.dir, "parquet"))
        ref = sorted(tuple(r) for r in parquet.select(*keys).collect())
        if len(ref) != want:
            msgs.append(f"parquet: {len(ref)} rows, want {want}")
            bad += 1
        try:
            avro = read_avro(spark, os.path.join(run.dir, "avro"))
            got = sorted(tuple(r) for r in avro.select(*keys).collect())
            ok = got == ref
        except Exception as exc:  # noqa: BLE001 — a crash is a failed check
            ok, got = False, []
            msgs.append(f"avro: {type(exc).__name__}: {str(exc)[:200]}")
        if not ok:
            msgs.append(f"avro round trip: {len(got)} rows differ from parquet")
            bad += 1
        blob = b"".join(
            open(f, "rb").read()
            for f in sorted(glob.glob(os.path.join(run.dir, "proto", "*.pb")))
        )
        routes = decode_routes(blob)
        got = sorted(
            (r["airline"].get("iata"), r["src_airport"].get("iata"),
             (r.get("dst_airport") or {}).get("iata"), r.get("codeshare", False))
            for r in routes
        )
        if got != ref:
            msgs.append(f"proto round trip: {len(got)} routes differ from parquet")
            bad += 1
        n_index = 0
        for f in glob.glob(os.path.join(run.dir, "geoindex", "**", "part-*"), recursive=True):
            with gzip.open(f, "rt") as fh:
                n_index += sum(1 for line in fh if line.strip())
        if n_index != want:
            msgs.append(f"geoindex: {n_index} rows, want {want}")
            bad += 1
        # Lookups: the nearest source airport by brute force.
        used = {r[1] for r in ref}
        ports = [p for p in self.ports if p["iata"] in used]
        wrong = 0
        for (lat, lon), ans in zip(run.probes, run.answers):
            best = min(gen.haversine_m(lat, lon, p["latitude"], p["longitude"]) for p in ports)
            if ans is None or abs(ans["_dist"] - best) > 1e-6 * max(best, 1.0):
                wrong += 1
        if wrong:
            msgs.append(f"nearest_in_geoindex: {wrong} of {len(run.probes)} lookups wrong")
        return bad, wrong, msgs
