"""The reference's ETL dataflow, re-expressed Spark-first.

Mirrors /root/reference/spotify-etl.py ``main()`` (:217-289) stage by
stage — extract (paginated REST) → flatten (from_json + column
expressions, replacing the dict comprehensions at :76-84, :100-106,
:121-127, :179-185, :196-202) → union per-playlist results (:241-243)
→ union+distinct track ids (:250-251) → batched audio-features lookup
(:151-166) → ``ingest_date`` stamp (:264-266) → typed sinks
(io.write_jdbc / write_parquet, replacing :209-215).

Spark-first design decisions:

- **Flattening is declarative.** Raw payload items enter Spark as JSON
  strings in whole Arrow batches: one batch per driver-side endpoint
  (:func:`operators.localtable.local_df`), one per
  ``_FANOUT_BATCH_ROWS`` gathered rows in the fan-out; ``from_json``
  with the explicit schemas in
  :mod:`spotify_app_etl_spark.schemas` + ``select`` expressions do the
  nested-field projection (A5), first-artist access (A6) and genres
  collapse (A7) inside Catalyst — visible to column pruning and
  whole-stage codegen, unlike the reference's Python loops.
- **Fan-out is partitioned.** Per-playlist track fetches (the
  reference's ``asyncio.gather`` at :240-241) run as ``mapInPandas``
  over the playlist-id DataFrame — each executor fetches its
  partition's playlists with a per-partition rate limiter
  (sources.rest.TokenBucket), which is how a 1000-executor cluster
  bounds global request rate with zero coordination.
- **Enrichment joins, not loops.** Audio features fetched via
  sources.rest.batched_lookup (≤100 ids/request, dedup-before-fetch
  like :250) and joined back to tracks as a broadcast join.
"""

from __future__ import annotations

import json
import logging
import time
from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from spotify_app_etl_spark import schemas
from spotify_app_etl_spark.operators.localtable import local_df
from spotify_app_etl_spark.session import configure_session
from spotify_app_etl_spark.sources import rest
from spotify_app_etl_spark.sources.spotify_mock import (
    MockSpotifyTransport,
    audio_features_for_ids,
)

#: raw page items land as single-column JSON-string DataFrames
_RAW = "payload string"

#: rows the per-playlist fan-out gathers before handing one pandas frame
#: to the JVM — the default Arrow batch size (``arrow.maxRecordsPerBatch``),
#: so a partition ships whole batches, not one small frame per playlist
_FANOUT_BATCH_ROWS = 10_000


def _json_df(spark: SparkSession, items: list[dict]) -> DataFrame:
    configure_session(spark)
    return local_df(spark, _RAW, {"payload": [json.dumps(item) for item in items]})


# ---------------------------------------------------------------------------
# Extract + flatten, one function per reference extract.
# ---------------------------------------------------------------------------


def extract_playlists(spark: SparkSession, transport, items=None) -> DataFrame:
    """GET /me/playlists, cursor-paginated (A1) → flatten (:76-84)."""
    if items is None:
        items = rest.fetch_paginated(transport, "/me/playlists?offset=0")
    parsed = _json_df(spark, items).select(
        F.from_json("payload", schemas.PLAYLIST_JSON).alias("p")
    )
    return parsed.select(
        F.col("p.id").alias("id"),
        F.col("p.href").alias("href"),
        F.col("p.name").alias("name"),
        F.col("p.owner.display_name").alias("owner"),
        F.col("p.public").alias("public"),
        F.col("p.collaborative").alias("collaborative"),
        F.col("p.tracks.total").alias("tracks"),
    )


def _flatten_track_items(parsed: DataFrame, *extra: str) -> DataFrame:
    """Common track-item projection (:100-106, :121-127, :179-185):
    nested track fields + first-artist-only + album name."""
    return parsed.select(
        *extra,
        F.col("t.track.id").alias("id"),
        F.col("t.track.name").alias("name"),
        # try_element_at: real payloads can carry "artists": [] (local
        # files, podcast edge cases) and ANSI mode — the Spark 4
        # default — turns element_at on an empty array into a
        # job-killing INVALID_ARRAY_INDEX; NULL artist is the right
        # answer (the mock always emits artists, so only live data
        # exercises this).
        F.try_element_at(F.col("t.track.artists"), F.lit(1))["name"].alias("artist"),
        F.col("t.track.album.name").alias("album"),
        F.to_timestamp(F.col("t.added_at")).alias("added_at"),
        F.to_timestamp(F.col("t.played_at")).alias("played_at"),
    )


def extract_playlist_tracks(
    spark: SparkSession,
    playlists: DataFrame,
    transport,
    fanout_partitions: int = 8,
    rate_per_partition: float | None = None,
) -> DataFrame:
    """Per-playlist paginated track fetch, distributed (A1 + A16).

    The playlist-id DataFrame repartitions to ``fanout_partitions``;
    each partition walks its playlists' page chains through one
    TokenBucket (global rate = fanout_partitions x rate_per_partition —
    the §2.9 bug-1 fix at cluster scale). Pass a rate when the
    transport is a real API; the in-process mock runs unthrottled.
    Items are gathered across a partition's playlists and handed back
    as one frame each time ``_FANOUT_BATCH_ROWS`` rows have gathered,
    plus the remainder at partition end.
    Null-track items are dropped declaratively after the flatten (:106).
    """
    # The fetch closure's globals (rest, schemas) pickle by module
    # reference — ship the package to workers before launching tasks.
    configure_session(spark)

    def fetch(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bucket = (
            rest.TokenBucket(rate=rate_per_partition, burst=5.0)
            if rate_per_partition
            else None
        )
        pids: list[str] = []
        payloads: list[str] = []
        for pdf in parts:
            for pid in pdf["id"]:
                items = rest.fetch_paginated(
                    transport, f"/playlists/{pid}/tracks?offset=0", bucket
                )
                pids.extend([pid] * len(items))
                payloads.extend(json.dumps(item) for item in items)
                if len(payloads) >= _FANOUT_BATCH_ROWS:
                    yield pd.DataFrame({"playlist_id": pids, "payload": payloads})
                    pids, payloads = [], []
        if payloads:
            yield pd.DataFrame({"playlist_id": pids, "payload": payloads})

    raw = (
        playlists.select("id")
        .repartition(fanout_partitions)
        .mapInPandas(fetch, schema="playlist_id string, payload string")
    )
    parsed = raw.select(
        "playlist_id", F.from_json("payload", schemas.TRACK_ITEM_JSON).alias("t")
    )
    flat = _flatten_track_items(parsed, "playlist_id").select(
        "id", "name", "artist", "album", "playlist_id"
    )
    return flat.filter(F.col("id").isNotNull())  # null-track guard (:106)


def extract_saved_tracks(spark: SparkSession, transport, items=None) -> DataFrame:
    """GET /me/tracks (A1) → flatten with added_at (:121-127)."""
    if items is None:
        items = rest.fetch_paginated(transport, "/me/tracks?offset=0")
    parsed = _json_df(spark, items).select(
        F.from_json("payload", schemas.TRACK_ITEM_JSON).alias("t")
    )
    return _flatten_track_items(parsed).select("id", "name", "artist", "album", "added_at")


def extract_recent_tracks(spark: SparkSession, transport, items=None) -> DataFrame:
    """GET /me/player/recently-played — single page ≤50 (A2, :177-185)."""
    if items is None:
        items = rest.fetch_paginated(
            transport, "/me/player/recently-played", max_pages=1
        )
    parsed = _json_df(spark, items).select(
        F.from_json("payload", schemas.TRACK_ITEM_JSON).alias("t")
    )
    return _flatten_track_items(parsed).select(
        "id", "name", "artist", "album", "played_at"
    )


def extract_followed_artists(spark: SparkSession, transport, items=None) -> DataFrame:
    """GET /me/following?type=artist → flatten (:196-202).

    genres stays ``array<string>``; the reference's ', '-joined string
    (:199, A7) is derived by the caller via ``concat_ws`` when needed.
    Paginates fully — the reference's one-page truncation is §2.9 bug 4.
    """
    if items is None:
        items = rest.fetch_paginated(transport, "/me/following?type=artist&offset=0")
    parsed = _json_df(spark, items).select(
        F.from_json("payload", schemas.ARTIST_JSON).alias("a")
    )
    return parsed.select(
        F.col("a.id").alias("id"),
        F.col("a.name").alias("name"),
        F.col("a.genres").alias("genres"),
        F.col("a.popularity").alias("popularity"),
        F.col("a.followers.total").alias("followers"),
    )


def _audio_lookup_via(transport):
    """Batched /audio-features lookup THROUGH the injected transport
    (picklable — ships to executors inside batched_lookup's
    mapInPandas closure), with the bounded 429 retry every other
    endpoint gets. This is what makes a real-API run fetch real
    features: a hardwired mock function here would silently fabricate
    feature rows (or crash on real base-62 track ids) no matter what
    transport the caller injected."""

    def lookup(ids: list[str]) -> list[dict]:
        payload = rest.request_with_retry(
            transport, "/audio-features?ids=" + ",".join(ids)
        )
        return payload.get("audio_features", [])

    return lookup


def enrich_audio_features(
    spark: SparkSession,
    playlist_tracks: DataFrame,
    saved_tracks: DataFrame,
    transport=None,
) -> DataFrame:
    """Union+distinct track ids (:250-251, A11) → batched lookup (A3)
    over ``transport``'s ``/audio-features`` endpoint (direct mock fn
    when no transport is given — standalone/unit use only)."""
    configure_session(spark)  # batched_lookup runs mapInPandas on workers
    ids = (
        playlist_tracks.select("id")
        .union(saved_tracks.select("id"))
        .filter(F.col("id").isNotNull())
        .distinct()
    )
    lookup = audio_features_for_ids if transport is None else _audio_lookup_via(transport)
    return rest.batched_lookup(
        ids,
        lookup,
        result_schema=schemas.AUDIO_FEATURES,
        batch_size=100,
    )


# ---------------------------------------------------------------------------
# Orchestration (reference main(), :217-289).
# ---------------------------------------------------------------------------


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    transport=None,
    ingest_date: bool = True,
    fanout_partitions: int = 8,
    rate_per_partition: float | None = None,
) -> dict[str, DataFrame]:
    """Full ETL run → the six reference tables as typed DataFrames.

    ``ingest_date=True`` stamps one run-level timestamp like :264-266;
    oracle-checked queries pass False for determinism.
    ``fanout_partitions`` / ``rate_per_partition`` pass through to the
    distributed per-playlist fan-out — a real-API caller MUST set a
    rate (global request rate = partitions × per-partition rate) or
    the fan-out hammers the API unthrottled; the in-process mock runs
    unthrottled by default.
    """
    log = logging.getLogger(__name__)
    started = time.monotonic()
    transport = transport or MockSpotifyTransport(sf_dir)
    log.info("etl run starting (sf_dir=%s)", sf_dir)
    # Overlap the four independent endpoint page-chains on driver
    # threads — extract-phase parity with the reference's
    # asyncio.gather (spotify-etl.py:230-234, A16). The per-playlist
    # track fan-out below remains the distributed half.
    pages = rest.fetch_paginated_many(
        transport,
        {
            "playlists": ("/me/playlists?offset=0", 10_000),
            "saved": ("/me/tracks?offset=0", 10_000),
            "recent": ("/me/player/recently-played", 1),
            "followed": ("/me/following?type=artist&offset=0", 10_000),
        },
    )
    playlists = extract_playlists(spark, transport, items=pages["playlists"])
    # persist: consumed twice (membership output + the distinct-ids feed
    # of the audio-features lookup) — without it the distributed REST
    # fan-out would execute twice. Registered with the session-wide
    # scoped-cache list (operators.dedup._PERSISTED) so a driver loop
    # calling run_pipeline repeatedly doesn't accumulate one cached
    # fan-out table per invocation — release_cached() (called by bench
    # and any long-lived harness) frees it once the sinks materialize.
    from spotify_app_etl_spark.operators.persist import scoped_persist

    playlist_tracks = scoped_persist(
        extract_playlist_tracks(
            spark,
            playlists,
            transport,
            fanout_partitions=fanout_partitions,
            rate_per_partition=rate_per_partition,
        )
    )
    saved = extract_saved_tracks(spark, transport, items=pages["saved"])
    tables: dict[str, DataFrame] = {
        "playlists": playlists,
        "playlists_tracks": playlist_tracks,
        "saved_tracks": saved,
        "recent_tracks": extract_recent_tracks(spark, transport, items=pages["recent"]),
        "followed_artists": extract_followed_artists(
            spark, transport, items=pages["followed"]
        ),
        "audio_features": enrich_audio_features(
            spark, playlist_tracks, saved, transport=transport
        ),
    }
    if ingest_date:
        # ONE driver-side timestamp literal for the whole run, not a
        # per-table current_timestamp(): each sink evaluates its plan at
        # its own query start, so the six tables would carry stamps
        # minutes apart (and a re-executed plan would re-stamp) — the
        # reference stamps all frames together (spotify-etl.py:264-266),
        # and "select latest run" grouping on ingest_date needs the run
        # to be one value.
        import datetime as _dt

        # Keep the tzinfo: Py4J converts NAIVE datetimes with
        # time.mktime (the driver's OS timezone, ignoring
        # spark.sql.session.timeZone), so a naive UTC wall-clock lands
        # shifted by the UTC offset on any non-UTC driver. An AWARE
        # datetime goes through utctimetuple and hits the correct
        # instant regardless of the driver's OS TZ.
        run_ts = _dt.datetime.now(_dt.timezone.utc)
        tables = {
            name: df.withColumn("ingest_date", F.lit(run_ts).cast("timestamp"))
            for name, df in tables.items()
        }
    # plan-construction time only — execution happens lazily at the
    # sink/action. The session runs without a Spark UI; per-stage
    # runtime metrics come from perfbench's traced run (``--trace 1``:
    # the event log grouped by ``setJobGroup``), replacing the
    # reference's wall-clock log (spotify-etl.py:285-286)
    log.info("etl plans built in %.2fs (6 tables)", time.monotonic() - started)
    return tables
