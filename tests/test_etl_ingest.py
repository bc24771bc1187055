"""ETL ingest shape: payload items cross into the JVM as Arrow batches.

The driver-side endpoints must land as a JVM ``LocalRelation`` (one
Arrow batch), not a pickled Python RDD that re-runs a Python worker on
every action; an empty library must still give the flattened schema;
and the per-playlist fan-out, which gathers items across a partition's
playlists into large frames, must return exactly each playlist's
non-null items under its own ``playlist_id``.
"""

from __future__ import annotations

from spotify_app_etl_spark import etl
from spotify_app_etl_spark.operators.localtable import local_df


def _no_transport(url):
    raise AssertionError(f"items were given, nothing may be fetched: {url}")


def _track(n: int) -> dict:
    return {
        "track": {
            "id": f"tr_{n}",
            "name": f"track {n}",
            "artists": [{"name": f"artist {n}"}],
            "album": {"name": f"album {n}"},
        },
        "added_at": "2024-01-01T00:00:00Z",
    }


def test_driver_items_enter_as_local_relation(spark):
    items = [
        {
            "id": "pl_1",
            "href": "h",
            "name": "one",
            "owner": {"display_name": "me"},
            "public": True,
            "collaborative": False,
            "tracks": {"total": 3},
        }
    ]
    df = etl.extract_playlists(spark, _no_transport, items=items)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan, plan
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan
    assert [tuple(r) for r in df.collect()] == [
        ("pl_1", "h", "one", "me", True, False, 3)
    ]


def test_empty_followed_artists_keep_flattened_schema(spark):
    df = etl.extract_followed_artists(spark, _no_transport, items=[])
    assert df.count() == 0
    assert df.schema.simpleString() == (
        "struct<id:string,name:string,genres:array<string>,"
        "popularity:int,followers:bigint>"
    )


def test_fanout_returns_each_playlists_non_null_items(spark):
    # pl_big spans two pages and more than one fan-out frame, so the
    # carry-over across frames and across playlists is exercised.
    big = etl._FANOUT_BATCH_ROWS + 5
    pages = {
        "/playlists/pl_empty/tracks?offset=0": {"items": [], "next": None},
        "/playlists/pl_two/tracks?offset=0": {
            "items": [_track(1), {"track": None}],
            "next": "/playlists/pl_two/tracks?offset=2",
        },
        "/playlists/pl_two/tracks?offset=2": {"items": [_track(2)], "next": None},
        "/playlists/pl_big/tracks?offset=0": {
            "items": [_track(n) for n in range(100, 100 + big - 3)],
            "next": "/playlists/pl_big/tracks?offset=1",
        },
        "/playlists/pl_big/tracks?offset=1": {
            "items": [_track(n) for n in range(100 + big - 3, 100 + big)],
            "next": None,
        },
    }
    playlists = local_df(spark, "id string", {"id": ["pl_empty", "pl_two", "pl_big"]})
    out = etl.extract_playlist_tracks(
        spark, playlists, pages.__getitem__, fanout_partitions=1
    ).collect()

    expected = {("pl_two", "tr_1"), ("pl_two", "tr_2")} | {
        ("pl_big", f"tr_{n}") for n in range(100, 100 + big)
    }
    got = [(r.playlist_id, r.id) for r in out]
    assert len(got) == len(expected)
    assert set(got) == expected
    row = next(r for r in out if r.id == "tr_2")
    assert (row.name, row.artist, row.album) == ("track 2", "artist 2", "album 2")
