"""Workload ``stream_replay``: seeded ride telemetry in the reference's
``locations/t=<offset>/`` layout, replayed through ``read_replay_stream``
into three queries: ``streaming_zscore`` and ``windowed_stats`` (each to a
parquet file sink) and ``upsert_foreach_batch`` keeping the latest row per
ride.

Two phases per measurement:

- catch-up (closed loop), ``CATCHUP_ROUNDS`` or more rounds, each on a fresh
  directory: the catch-up deliveries are landed first, then all three
  queries run under ``availableNow``, one delivery per trigger.  Reports
  events per second and per-trigger latency over all rounds.
- live (open loop), after the last round on its directory: the z-score and
  window queries keep running while one
  generator thread lands ``LIVE`` deliveries atomically every ``INTERVAL``
  seconds, a rate below the catch-up capacity.  Detection latency runs
  from a delivery's due time until the z-score trigger that scored it has
  committed.  The upsert query sits the live phase out: its trigger is
  fixed to ``availableNow``.

Outputs are checked after timing in DuckDB: z-scores and flags against an
unbounded-preceding window, window statistics against a ``GROUP BY`` over
the windows the final watermark closed, the upsert store against the latest
row per ride of the catch-up deliveries.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import threading
import time
from dataclasses import dataclass, field

import gen
from measure import median, tail

SHAPE_RIDES = 200
SHAPE_ROWS = 10
INTERVAL = 1.5  # seconds between live deliveries
# Catch-up rounds per measurement: at least this many, more while
# ``--seconds`` has not elapsed.  Trigger samples are pooled over the rounds
# so the tail is a percentile with ten samples above it, not one maximum.
CATCHUP_ROUNDS = 3
EPOCH = "2024-01-01 00:00:00"
THRESHOLD = 3.0
MIN_POINTS = 5
WATERMARK = "5 seconds"


def _iso(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _data_batches(query) -> list[dict]:
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


@dataclass
class Run:
    dir: str
    deliveries: int
    trigger_s: list[float] = field(default_factory=list)
    detect_s: list[float] = field(default_factory=list)
    late_s: list[float] = field(default_factory=list)
    progress: dict[str, list[dict]] = field(default_factory=dict)
    backlog: int = 0
    watermark: str | None = None
    errors: int = 0
    input_bytes: int = 0


class Workload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        n = max(4, round(ctx.seconds / 2))
        self.catchup, self.live = n, n
        self.shape = gen.Telemetry(SHAPE_RIDES, self.catchup + self.live, SHAPE_ROWS)
        self.runs: list[Run] = []
        self._k = 0

    def describe(self) -> str:
        return (
            f"{self.shape.rides} rides x {self.shape.rows} rows per delivery "
            f"({self.shape.events_per_delivery} events); catch-up closed loop over "
            f"{self.catchup} deliveries, {CATCHUP_ROUNDS}+ rounds; live open loop, "
            f"{self.live} deliveries, 1 every {INTERVAL:g} s"
        )

    def prepare(self) -> None:
        seed = self.ctx.seed
        self.offsets = gen.delivery_offsets(seed, self.shape.deliveries)
        self.tables = [
            gen.telemetry_delivery(seed, self.shape, i) for i in range(self.shape.deliveries)
        ]

    # -- the pipeline ---------------------------------------------------------

    def _source(self, src: str, tracer):
        from anomaly_detection_in_time_series_data_spark import schemas
        from anomaly_detection_in_time_series_data_spark.streaming.replay import (
            read_replay_stream,
        )

        with tracer.span("streaming.replay.read_replay_stream"):
            return read_replay_stream(
                self.ctx.spark, src, schemas.TELEMETRY_LOCATIONS, epoch=EPOCH
            )

    def _start_scorers(self, d: str, tracer, trigger: dict):
        from anomaly_detection_in_time_series_data_spark.streaming.anomaly_stream import (
            streaming_zscore,
            windowed_stats,
        )

        src = self._source(os.path.join(d, "locations"), tracer)
        with tracer.span("streaming.anomaly_stream.build"):
            z = streaming_zscore(
                src.select("ride_id", "event_ts", "speed", "seq"),
                key_col="ride_id", value_col="speed", threshold=THRESHOLD,
                min_points=MIN_POINTS, tiebreak_col="seq",
            )
            w = windowed_stats(src, key_col="ride_id", value_col="speed", watermark=WATERMARK)
        queries = []
        for name, df in (("z", z), ("w", w)):
            with tracer.span("streaming.anomaly_stream.start", sink=name):
                queries.append(
                    df.writeStream.format("parquet")
                    .option("path", os.path.join(d, name))
                    .option("checkpointLocation", os.path.join(d, f"{name}-ckpt"))
                    .trigger(**trigger)
                    .start()
                )
        return queries

    def _start_upsert(self, d: str, tracer):
        from anomaly_detection_in_time_series_data_spark.streaming.sinks import (
            upsert_foreach_batch,
        )

        src = self._source(os.path.join(d, "locations"), tracer)
        with tracer.span("streaming.sinks.upsert_start"):
            return upsert_foreach_batch(
                src.drop("t"), os.path.join(d, "store"), key_cols=["ride_id"],
                order_col="seq", checkpoint=os.path.join(d, "store-ckpt"),
            )

    def _land(self, d: str, i: int) -> None:
        gen.land_delivery(
            self.tables[i], os.path.join(d, "locations"), self.offsets[i],
            os.path.join(d, "stage"),
        )

    def warm(self) -> None:
        d = os.path.join(self.ctx.work, "warm")
        for i in range(2):
            self._land(d, i)
        qs = self._start_scorers(d, self.ctx.off, {"availableNow": True})
        qs.append(self._start_upsert(d, self.ctx.off))
        for q in qs:
            q.awaitTermination()

    # -- measurement ----------------------------------------------------------

    def measure(self, tracer) -> dict[str, float]:
        clock = time.time() - time.perf_counter()
        rounds: list[Run] = []
        elapsed = 0.0
        while len(rounds) < CATCHUP_ROUNDS or elapsed < self.ctx.seconds:
            run, took = self._catch_up(tracer, clock)
            rounds.append(run)
            elapsed += took
        run = rounds[-1]
        self._live(run, tracer, clock)
        self.runs += rounds

        trigger_s = [t for r in rounds for t in r.trigger_s]
        pt, trig_tail, nt = tail(trigger_s)
        pd_, det_tail, nd = tail(run.detect_s)
        self.ctx.note(f"trigger_tail_s is p{pt:.1f} of {nt} triggers over {len(rounds)} "
                      f"catch-up rounds; detect_tail_s is p{pd_:.1f} of {nd} deliveries")
        self.ctx.note(f"generator ran at most {max(run.late_s, default=0.0):.4f} s late; "
                      f"live rate {1 / INTERVAL:.3f} deliveries/s")
        return {
            "stream_events_per_s":
                len(rounds) * self.catchup * self.shape.events_per_delivery / elapsed,
            "trigger_p50_s": median(trigger_s),
            "trigger_tail_s": trig_tail,
            "detect_p50_s": median(run.detect_s),
            "detect_tail_s": det_tail,
        }

    def _catch_up(self, tracer, clock: float) -> tuple[Run, float]:
        """One catch-up round on a fresh directory; returns the run and the
        seconds from starting the queries until all three finished."""
        d = os.path.join(self.ctx.work, f"run{self._k}")
        self._k += 1
        run = Run(d, self.catchup)
        for i in range(self.catchup):
            self._land(d, i)
        run.input_bytes = sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(d, "locations", "*", "*.parquet"))
        )
        with tracer.span("stream.catch_up") as phase:
            t0 = time.perf_counter()
            qz, qw = self._start_scorers(d, tracer, {"availableNow": True})
            qu = self._start_upsert(d, tracer)
            for q in (qz, qw, qu):
                q.awaitTermination()
            elapsed = time.perf_counter() - t0
        for name, q in (("z", qz), ("w", qw), ("u", qu)):
            batches = _data_batches(q)
            run.progress[f"catchup.{name}"] = batches
            run.trigger_s += [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches]
            self._spans(tracer, batches, name, phase, clock)
        run.watermark = qw.lastProgress["eventTime"].get("watermark")
        return run, elapsed

    def _live(self, run: Run, tracer, clock: float) -> None:
        """The live phase, continuing ``run``'s catch-up queries from their
        checkpoints."""
        d = run.dir
        run.deliveries += self.live
        with tracer.span("stream.live") as phase:
            qz, qw = self._start_scorers(d, tracer, {"processingTime": "0 seconds"})
            due = [time.time() + 0.5 + j * INTERVAL for j in range(self.live)]
            landed: list[float] = []
            gen_thread = threading.Thread(
                target=self._generate, args=(d, due, landed), daemon=True
            )
            gen_thread.start()
            gen_thread.join(timeout=self.live * INTERVAL + 60)
            for q in (qz, qw):
                q.processAllAvailable()
            run.watermark = qw.lastProgress["eventTime"].get("watermark")
            for q in (qz, qw):
                q.stop()
        zb = _data_batches(qz)
        run.progress["live.z"] = zb
        run.progress["live.w"] = _data_batches(qw)
        self._spans(tracer, zb, "z", phase, clock)
        self._spans(tracer, run.progress["live.w"], "w", phase, clock)
        run.late_s = [a - b for a, b in zip(landed, due)]
        if len(zb) != self.live or len(landed) != self.live:
            print(f"# live phase: {len(landed)} landed, {len(zb)} scored triggers")
            run.errors += abs(self.live - min(len(zb), len(landed)))
        for j, p in enumerate(zb[: len(landed)]):
            start = _iso(p["timestamp"])
            done = start + p["durationMs"]["triggerExecution"] / 1000.0
            run.detect_s.append(done - due[j])
            waiting = sum(1 for t in landed if t <= start) - j
            run.backlog = max(run.backlog, waiting)

    def _generate(self, d: str, due: list[float], landed: list[float]) -> None:
        for j, t in enumerate(due):
            wait = t - time.time()
            if wait > 0:
                time.sleep(wait)
            self._land(d, self.catchup + j)
            landed.append(time.time())

    def _spans(self, tracer, batches: list[dict], name: str, phase, clock: float) -> None:
        """Per-trigger spans from ``StreamingQueryProgress.durationMs``, laid
        end to end from the trigger start in Spark's phase order."""
        if not tracer.enabled:
            return
        busy = "streaming.sinks.merge" if name == "u" else "streaming.anomaly_stream.add_batch"
        for p in batches:
            dm = p["durationMs"]
            start = _iso(p["timestamp"]) - clock
            end = start + dm["triggerExecution"] / 1000.0
            trig = tracer.record("stream.trigger", start, end, phase.id,
                                 query=name, batch=p["batchId"])
            t = start
            for span_name, ms in (
                ("streaming.replay.list", dm.get("latestOffset", 0) + dm.get("getBatch", 0)),
                ("streaming.anomaly_stream.planning", dm.get("queryPlanning", 0)),
                (busy, dm.get("addBatch", 0)),
                ("streaming.anomaly_stream.commit",
                 dm.get("walCommit", 0) + dm.get("commitOffsets", 0)),
            ):
                tracer.record(span_name, t, t + ms / 1000.0, trig, query=name)
                t += ms / 1000.0

    def attempts(self, run: Run) -> int:
        return run.deliveries

    def layer_metrics(self, tracer) -> dict[str, float]:
        run = self.runs[-1]
        every = [p for v in run.progress.values() for p in v]
        z = run.progress["catchup.z"] + run.progress["live.z"]
        u = run.progress["catchup.u"]

        def ms(ps, *keys):
            return median([sum(p["durationMs"].get(k, 0) for k in keys) / 1000.0 for p in ps])

        state = z[-1]["stateOperators"][0] if z and z[-1]["stateOperators"] else {}
        store = sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(run.dir, "store", "*.parquet"))
        )
        return {
            "streaming.replay.list_s": ms(every, "latestOffset", "getBatch"),
            "streaming.anomaly_stream.add_batch_s": ms(z, "addBatch"),
            "streaming.anomaly_stream.planning_s": ms(z, "queryPlanning"),
            "streaming.anomaly_stream.commit_s": ms(z, "walCommit", "commitOffsets"),
            "streaming.anomaly_stream.state_commit_s": median(
                [p["stateOperators"][0]["commitTimeMs"] / 1000.0 for p in z if p["stateOperators"]]
            ),
            "streaming.anomaly_stream.state_rows": state.get("numRowsTotal", 0),
            "streaming.anomaly_stream.state_bytes": state.get("memoryUsedBytes", 0),
            "streaming.anomaly_stream.state_partitions": state.get("numShufflePartitions", 0),
            "streaming.sinks.merge_s": ms(u, "addBatch"),
            # Each merge rewrites the whole store; the store holds one row per
            # ride from the first batch on, so its final size stands for each.
            "streaming.sinks.rewrite_ratio": len(u) * store / max(run.input_bytes, 1),
            "streaming.backlog_files": run.backlog,
            "streaming.generator_late_s": max(run.late_s, default=0.0),
            "e2e.detect_p50_s": median(run.detect_s),
            "e2e.detect_tail_s": tail(run.detect_s)[1],
        }

    # -- output checks ----------------------------------------------------------

    def check(self) -> tuple[int, list[str]]:
        """Any failed check fails every delivery of that measured run."""
        import duckdb

        failed, notes = 0, []
        for run in self.runs:
            con = duckdb.connect()
            try:
                bad = self._check_run(con, run)
            except Exception as exc:  # noqa: BLE001 — a crash is a failed check
                bad = [f"{type(exc).__name__}: {str(exc)[:200]}"]
            con.close()
            if bad:
                failed += run.deliveries
                notes += [f"{os.path.basename(run.dir)}: {b}" for b in bad]
        return failed, notes

    def _check_run(self, con, run: Run) -> list[str]:
        d = run.dir
        con.execute(f"""
            CREATE VIEW src AS
            SELECT ride_id, seq, speed,
                   TIMESTAMP '{EPOCH}' + to_microseconds(CAST(round(t * 1e6) AS BIGINT)) AS event_ts
            FROM read_parquet('{d}/locations/*/*.parquet', hive_partitioning = true,
                              hive_types = {{'t': DOUBLE}})
        """)
        bad = []
        n_src = con.execute("SELECT count(*) FROM src").fetchone()[0]
        if n_src != run.deliveries * self.shape.events_per_delivery:
            bad.append(f"source holds {n_src} events")
        # z-scores: flags exact, scores within 1e-9 relative of a two-pass window.
        diff = con.execute(f"""
            WITH o AS (
              SELECT ride_id, event_ts, speed AS value,
                     count(*) OVER w AS n, avg(speed) OVER w AS mu,
                     stddev_samp(speed) OVER w AS sd
              FROM src
              WINDOW w AS (PARTITION BY ride_id ORDER BY event_ts, seq
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ), want AS (
              SELECT ride_id, event_ts, value,
                     CASE WHEN n >= {MIN_POINTS} AND sd > 1e-12 THEN (value - mu) / sd END AS z
              FROM o
            ), got AS (
              SELECT ride_id, CAST(event_ts AS TIMESTAMP) AS event_ts, value,
                     zscore AS z, is_anomaly
              FROM read_parquet('{d}/z/*.parquet')
            ), a AS (
              SELECT *, row_number() OVER (PARTITION BY ride_id, event_ts, value ORDER BY z) AS k
              FROM want
            ), b AS (
              SELECT *, row_number() OVER (PARTITION BY ride_id, event_ts, value ORDER BY z) AS k
              FROM got
            )
            SELECT count(*) FILTER (WHERE a.ride_id IS NULL OR b.ride_id IS NULL) AS missing,
                   count(*) FILTER (
                     WHERE (a.z IS NULL) <> (b.z IS NULL)
                        OR abs(a.z - b.z) > 1e-9 * greatest(1.0, abs(a.z))
                        OR coalesce(abs(a.z) > {THRESHOLD}, false) <> b.is_anomaly) AS wrong,
                   count(*) FILTER (WHERE b.is_anomaly) AS flagged
            FROM a FULL JOIN b USING (ride_id, event_ts, value, k)
        """).fetchone()
        if diff[0] or diff[1]:
            bad.append(f"zscore: {diff[0]} rows missing, {diff[1]} wrong")
        if not diff[2]:
            bad.append("zscore: nothing flagged (vacuous)")
        # Window stats: exactly the windows the final watermark closed.
        if run.watermark is None:
            bad.append("windowed_stats: no watermark")
        else:
            wm = run.watermark.replace("T", " ").replace("Z", "")
            diff = con.execute(f"""
                WITH agg AS (
                  SELECT time_bucket(INTERVAL 10 SECOND, event_ts) AS window_start, ride_id,
                         count(*) AS n, avg(speed) AS mu, stddev_samp(speed) AS sigma,
                         min(speed) AS vmin, max(speed) AS vmax
                  FROM src GROUP BY 1, 2
                ), want AS (
                  SELECT * FROM agg
                  WHERE window_start + INTERVAL 10 SECOND <= TIMESTAMP '{wm}'
                ), got AS (
                  SELECT CAST(window_start AS TIMESTAMP) AS window_start, ride_id, n, mu, sigma,
                         vmin, vmax
                  FROM read_parquet('{d}/w/*.parquet')
                )
                SELECT count(*) FILTER (WHERE want.ride_id IS NULL OR got.ride_id IS NULL),
                       count(*) FILTER (
                         WHERE want.n <> got.n OR want.vmin <> got.vmin OR want.vmax <> got.vmax
                            OR abs(want.mu - got.mu) > 1e-9 * abs(want.mu)
                            OR (want.sigma IS NULL) <> (got.sigma IS NULL)
                            OR abs(want.sigma - got.sigma) > 1e-9 * greatest(1.0, want.sigma)),
                       count(*)
                FROM want FULL JOIN got USING (window_start, ride_id)
            """).fetchone()
            # Only the live phase moves the watermark past a whole window.
            vacuous = not diff[2] and run.deliveries > self.catchup
            if diff[0] or diff[1] or vacuous:
                bad.append(f"windowed_stats: {diff[0]} windows missing/extra, "
                           f"{diff[1]} wrong of {diff[2]}")
        # Upsert store: the latest row per ride of the catch-up deliveries.
        diff = con.execute(f"""
            WITH want AS (
              SELECT ride_id, seq, speed FROM src WHERE seq < {self.catchup * SHAPE_ROWS}
              QUALIFY row_number() OVER (PARTITION BY ride_id ORDER BY seq DESC) = 1
            ), got AS (SELECT ride_id, seq, speed FROM read_parquet('{d}/store/*.parquet'))
            SELECT count(*) FILTER (WHERE want.ride_id IS NULL OR got.ride_id IS NULL
                                       OR want.seq <> got.seq OR want.speed <> got.speed),
                   count(*)
            FROM want FULL JOIN got USING (ride_id)
        """).fetchone()
        if diff[0] or diff[1] != self.shape.rides:
            bad.append(f"upsert store: {diff[0]} rides differ of {diff[1]}")
        return bad
