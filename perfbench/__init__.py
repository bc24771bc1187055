"""Benchmark for the spotify_app_etl_spark engine; see README.md."""
