"""The benchmark's metric catalogue: every end-to-end metric, and every
per-layer metric with the end-to-end metric(s) and workload it should move.

``BENCHMARK.json`` lists the same names (its schema has no room for the
``moves``/``on`` columns, so they live here); ``test_perfbench.py`` checks
that the two agree.
"""

from __future__ import annotations

from dataclasses import dataclass

WORKLOADS = ("batch_queries", "stream_replay", "route_ingest")
# The workloads BENCHMARK.json lists.  Every run pays a fresh JVM and a cold
# warm pass (20-30 s on a 4-core machine) and the whole measured set must
# fit a fixed time budget, so ``route_ingest`` has no timed runs of its own.
BENCHMARKED = ("batch_queries", "stream_replay")
# A traced run of the key also runs the value's pipeline (untimed end to
# end), so the layers only ``route_ingest`` reaches still get per-layer
# metrics and spans in the benchmarked set.
TRACED_WITH = {"batch_queries": "route_ingest"}

MIX = (
    "flagship_anomaly_zscore",
    "flagship_anomaly_zscore_chunked",
    "mad_robust_anomaly",
    "hampel_filter_anomaly",
    "agg_pricing_summary",
    "join_star_revenue",
    "asof_join_last_order",
    "similarity_topk",
    "minhash_lsh_pairs",
    "text_term_frequency",
)

# Engine modules each span name is attributed to (longest prefix wins).
LAYERS = (
    "session",
    "tables",
    "queries",
    "streaming.replay",
    "streaming.anomaly_stream",
    "streaming.sinks",
    "sources.readers",
    "sources.writers",
    "sources.avro_fallback",
    "sources.proto_routes",
    "functions.geohash",
)
# Engine modules no workload exercises: ``plans`` is inspection-only and off
# every hot path; ``functions.email_parse``, ``functions.jpeg``,
# ``functions.png``, ``functions.mp4`` and ``operators.multimodal`` have no
# input here.  ``operators.*`` runs inside ``queries``.


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    moves: tuple[str, ...] = ()
    on: tuple[str, ...] = ()
    bound: float | None = None


# The end-to-end metrics of the JSON result: every workload reports each
# of them, meaning the workload's own unit of work (see ``WORKLOAD_METRICS``).
# Bounds: on the 4-core machine this was built on, the speed of identical
# runs drifted by up to 3x within half an hour, so every bound is the
# largest a BENCHMARK.json bound may be.
END_TO_END = (
    Metric("setup_s", "s", "lower", bound=0.25),
    Metric("peak_rss_mb", "MB", "lower", bound=0.25),
    Metric("latency_p50_s", "s", "lower", bound=0.25),
    Metric("latency_tail_s", "s", "lower", bound=0.25),
    Metric("throughput_per_s", "1/s", "higher", bound=0.25),
)

# Per workload: the named end-to-end metrics it prints (with units) in its
# summary, and which of them each generic JSON metric carries.
WORKLOAD_METRICS = {
    "batch_queries": {
        "names": {
            "query_p50_s": "s",
            "query_tail_s": "s",
            "mix_pass_s": "s",
            "queries_per_s": "1/s",
        },
        "generic": {
            "latency_p50_s": "query_p50_s",
            "latency_tail_s": "query_tail_s",
            "throughput_per_s": "queries_per_s",
        },
    },
    "stream_replay": {
        "names": {
            "stream_events_per_s": "1/s",
            "trigger_p50_s": "s",
            "trigger_tail_s": "s",
            "detect_p50_s": "s",
            "detect_tail_s": "s",
        },
        "generic": {
            "latency_p50_s": "trigger_p50_s",
            "latency_tail_s": "trigger_tail_s",
            "throughput_per_s": "stream_events_per_s",
        },
    },
    "route_ingest": {
        "names": {
            "ingest_rows_per_s": "1/s",
            "lookup_p50_s": "s",
            "lookup_tail_s": "s",
            "stored_bytes_per_input_byte": "ratio",
        },
        "generic": {
            "latency_p50_s": "lookup_p50_s",
            "latency_tail_s": "lookup_tail_s",
            "throughput_per_s": "ingest_rows_per_s",
        },
    },
}
COMMON = {"setup_s": "s", "error_rate": "ratio", "peak_rss_mb": "MB"}

_BQ = ("batch_queries",)
_SR = ("stream_replay",)
_RI = ("route_ingest",)
_Q_MOVES = ("query_p50_s", "query_tail_s", "mix_pass_s")


def _per_query() -> list[Metric]:
    out = []
    for q in MIX:
        out += [
            Metric(f"queries.{q}.build_s", "s", "lower", _Q_MOVES, _BQ),
            Metric(f"queries.{q}.exec_s", "s", "lower", _Q_MOVES, _BQ),
            Metric(f"queries.{q}.jobs", "count", "lower", _Q_MOVES, _BQ),
            Metric(f"queries.{q}.tasks", "count", "lower", _Q_MOVES, _BQ),
            Metric(f"queries.{q}.cores_busy", "cores", "higher", _Q_MOVES, _BQ),
        ]
    return out


_TRIG = ("trigger_p50_s", "trigger_tail_s")
_DET = ("detect_p50_s", "detect_tail_s")
_ING = ("ingest_rows_per_s",)
_ALL = WORKLOADS

PER_LAYER = (
    Metric("session.start_s", "s", "lower", ("setup_s",), _ALL),
    Metric("session.warm_pass_s", "s", "lower", ("setup_s",), _ALL),
    *(
        Metric(f"tables.scan_s.{t}", "s", "lower", ("query_p50_s", "mix_pass_s"), _BQ)
        for t in ("events", "lineitem", "orders")
    ),
    Metric("tables.scan_tasks.events", "count", "higher", ("query_p50_s", "mix_pass_s"), _BQ),
    *_per_query(),
    Metric("queries.shuffle_bytes", "bytes", "lower", _Q_MOVES, _BQ),
    Metric("queries.spill_bytes", "bytes", "lower", _Q_MOVES, _BQ),
    Metric("streaming.replay.list_s", "s", "lower", ("trigger_p50_s", "detect_p50_s"), _SR),
    *(
        Metric(f"streaming.anomaly_stream.{m}", "s", "lower",
               ("stream_events_per_s", *_TRIG, *_DET), _SR)
        for m in ("add_batch_s", "planning_s", "commit_s", "state_commit_s")
    ),
    Metric("streaming.anomaly_stream.state_rows", "count", "lower",
           ("stream_events_per_s", *_TRIG, *_DET, "peak_rss_mb"), _SR),
    Metric("streaming.anomaly_stream.state_bytes", "bytes", "lower",
           ("stream_events_per_s", *_TRIG, *_DET, "peak_rss_mb"), _SR),
    Metric("streaming.anomaly_stream.state_partitions", "count", "lower",
           ("stream_events_per_s", *_TRIG, *_DET, "peak_rss_mb"), _SR),
    Metric("streaming.sinks.merge_s", "s", "lower", ("trigger_tail_s", "detect_tail_s"), _SR),
    Metric("streaming.sinks.rewrite_ratio", "ratio", "lower",
           ("trigger_tail_s", "detect_tail_s"), _SR),
    Metric("streaming.backlog_files", "count", "lower", ("trigger_tail_s", "detect_tail_s"), _SR),
    Metric("streaming.generator_late_s", "s", "lower", _DET, _SR),
    Metric("sources.readers.read_validate_s", "s", "lower", _ING, _RI),
    Metric("sources.readers.corrupt_rows", "count", "lower", _ING, _RI),
    Metric("functions.geohash.encode_s", "s", "lower", _ING, _RI),
    Metric("sources.writers.parquet_write_s", "s", "lower", _ING, _RI),
    Metric("sources.writers.geoindex_write_s", "s", "lower", _ING, _RI),
    Metric("sources.writers.geoindex_files", "count", "lower",
           ("lookup_p50_s", "lookup_tail_s", "stored_bytes_per_input_byte"), _RI),
    Metric("sources.writers.geoindex_bytes", "bytes", "lower",
           ("stored_bytes_per_input_byte",), _RI),
    Metric("sources.writers.lookup_jobs", "count", "lower", ("lookup_p50_s", "lookup_tail_s"), _RI),
    Metric("sources.writers.lookup_tasks", "count", "lower", ("lookup_p50_s", "lookup_tail_s"), _RI),
    Metric("sources.avro_fallback.write_s", "s", "lower", _ING, _RI),
    Metric("sources.avro_fallback.bytes", "bytes", "lower",
           ("stored_bytes_per_input_byte",), _RI),
    Metric("sources.proto_routes.write_s", "s", "lower", _ING, _RI),
    Metric("sources.proto_routes.bytes", "bytes", "lower",
           ("stored_bytes_per_input_byte",), _RI),
    # Self time per layer (span minus children), and tracing overhead as the
    # traced end-to-end value minus the untraced one in the same process.
    *(Metric(f"self_s.{layer}", "s", "lower", (), _ALL) for layer in LAYERS),
    *(
        Metric(f"trace_overhead.{m.name}", m.unit, "lower", (m.name,), _ALL)
        for m in END_TO_END
        if m.name != "setup_s"
    ),
    # The workload-named end-to-end metrics with no generic JSON slot of
    # their own, as measured in the traced half of the run.
    Metric("e2e.mix_pass_s", "s", "lower", ("mix_pass_s",), _BQ),
    Metric("e2e.detect_p50_s", "s", "lower", _DET, _SR),
    Metric("e2e.detect_tail_s", "s", "lower", _DET, _SR),
    Metric("e2e.ingest_rows_per_s", "1/s", "higher", _ING, _RI),
    Metric("e2e.lookup_p50_s", "s", "lower", ("lookup_p50_s",), _RI),
    Metric("e2e.lookup_tail_s", "s", "lower", ("lookup_tail_s",), _RI),
    Metric("e2e.stored_bytes_per_input_byte", "ratio", "lower",
           ("stored_bytes_per_input_byte",), _RI),
)
