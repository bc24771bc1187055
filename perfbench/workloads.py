"""The benchmark's workloads and the unit each one repeats.

A unit is one user-visible call into the engine. Query units run a
registered query callable and force it with ``toPandas`` (the rider-
free ``bench_fn`` arm where the registry has one). The ETL unit runs
``etl.run_pipeline`` over the mock Spotify API and writes its six
tables to fresh parquet directories. Every unit runs under its own
Spark job group so the event log can be split per unit.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from perfbench.counting import CountingTransport
from perfbench.eventlog import union_seconds

#: The LLM-data pass, about 3.5 s warm on 4 cores at sf0.01: exact
#: dedup, MinHash pairs (Arrow Python kernel, persist scope) and
#: connected components (driver loop over checkpointed rounds).
LLM_UNITS = (
    "ns_dedup_exact",
    "ns_dedup_minhash_pairs",
    "ns_dedup_clusters",
)

ETL_UNITS = ("run_pipeline",)

WORKLOADS = {
    "etl_pipeline": ETL_UNITS,
    "llm_data_ops": LLM_UNITS,
}

#: Untimed passes before the first timed one. The first pass of a run
#: takes three to four times a warm one (codegen, class loading,
#: Python workers, the mock API's per-worker DuckDB cache); after it
#: an ETL pass is within 5% of its later ones, while an LLM-data pass
#: is 20-30% slower on the second and third passes and keeps speeding
#: up for some 30 s as the JIT compiles the connected-components loop
#: (39 Spark jobs a unit). With three warm-up passes its timed passes
#: still fell by a quarter within a run, and ten runs' ``pass_s``
#: spread by 0.14 of their median.
WARMUP_PASSES = {
    "etl_pipeline": 2,
    "llm_data_ops": 5,
}

ETL_TABLES = (
    "playlists",
    "playlists_tracks",
    "saved_tracks",
    "recent_tracks",
    "followed_artists",
    "audio_features",
)


@dataclass
class Attempt:
    """One execution of one unit."""

    unit: str
    pass_no: int  # 0 for the untimed warm-up passes
    group: str  # Spark job group
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    latency_s: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)
    counters: dict[str, int] = field(default_factory=dict)
    error: str | None = None
    result: object = None  # pandas frame or sink directory, until verified
    digest: str | None = None
    rows: int = 0
    verdict: str = ""  # "", "ok" or the reason it failed
    spark: dict[str, float] = field(default_factory=dict)  # traced runs only


class Runner:
    """Runs units against one SparkSession."""

    def __init__(self, spark, sf_dir: str, registry, tracer, sink_root: str):
        from spotify_app_etl_spark.sources.spotify_mock import MockSpotifyTransport

        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.registry = registry
        self.tracer = tracer
        self.sink_root = sink_root
        self.requests = self.sc.accumulator(0)
        self.throttled = self.sc.accumulator(0)
        self._mock = MockSpotifyTransport
        self._serial = 0

    def run(self, unit: str, pass_no: int, run_id: str) -> Attempt:
        from spotify_app_etl_spark.operators import cluster
        from spotify_app_etl_spark.operators.persist import release_cached

        self._serial += 1
        attempt = Attempt(unit, pass_no, f"{run_id}-u{self._serial}")
        self.sc.setJobGroup(attempt.group, unit)
        cluster.take_rounds()
        with self.tracer.span(unit, "harness"):
            attempt.start = time.time()
            started = time.perf_counter()
            try:
                if unit == "run_pipeline":
                    self._etl(attempt)
                else:
                    self._query(attempt)
            except Exception as exc:  # a failed unit is counted, the loop goes on
                attempt.error = f"{type(exc).__name__}: {exc}"[:500]
            attempt.latency_s = time.perf_counter() - started
            attempt.end = time.time()
            release_cached()
        attempt.counters["cc_rounds"] = sum(cluster.take_rounds())
        if self.tracer.enabled:
            attempt.counters["persist_leaked"] = self.sc._jsc.getPersistentRDDs().size()
        return attempt

    def _query(self, attempt: Attempt) -> None:
        q = self.registry[attempt.unit]
        fn = q.bench_fn or q.fn
        t0 = time.perf_counter()
        with self.tracer.span("plans.build", "plans"):
            df = fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        with self.tracer.span("plans.action", "plans"):
            attempt.result = df.toPandas()
        attempt.phases = {"build": t1 - t0, "action": time.perf_counter() - t1}

    def _etl(self, attempt: Attempt) -> None:
        from spotify_app_etl_spark import etl

        transport = CountingTransport(self._mock(self.sf_dir), self.requests, self.throttled)
        req0, thr0 = self.requests.value, self.throttled.value
        out = os.path.join(self.sink_root, attempt.group)
        t0 = time.perf_counter()
        with self.tracer.span("etl.run_pipeline", "etl") as pipeline_span:
            tables = etl.run_pipeline(self.spark, self.sf_dir, transport, ingest_date=False)
        attempt.phases["run_pipeline"] = time.perf_counter() - t0
        for table in ETL_TABLES:
            t0 = time.perf_counter()
            with self.tracer.span(f"etl.sink.{table}", "io"):
                tables[table].write.parquet(os.path.join(out, table))
            attempt.phases[f"sink.{table}"] = time.perf_counter() - t0
        attempt.result = out
        attempt.counters["requests"] = self.requests.value - req0
        attempt.counters["throttled"] = self.throttled.value - thr0
        for start, end in transport.driver_intervals:
            self.tracer.add("sources.request", "sources", start, end, pipeline_span)
        attempt.phases["sources_driver"] = union_seconds(transport.driver_intervals)
