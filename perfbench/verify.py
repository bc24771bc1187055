"""Output checks: fingerprints, DuckDB oracles and sink read-back.

All checking runs in a child process, ``python3 -m perfbench.verify
SF_DIR``, so that the memory the benchmark's process tree is sampled
for holds none of it: no DuckDB connection, no canonical row lists.
The benchmark sends each result to the child (pickled, over a pipe)
and gets its verdict back; see ``Checker``.

A fingerprint is a SHA-256 over a result's lower-cased column names
and its rows in the canonical form of ``tests/oracle.py`` (columns by
name, rows sorted, full-precision floats), so two results share a
fingerprint exactly when that module's comparison calls them equal.
It costs Python work per cell, so each unit's result is fingerprinted
once per run; every other run of the unit must match that result's
digest, an order-insensitive 64-bit sum of per-row hashes that pandas
computes column-wise.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: ETL sink -> the registered parity query whose DuckDB oracle gives
#: that table's expected contents.
SINK_ORACLES = {
    "playlists": "etl_playlists",
    "playlists_tracks": "etl_playlists_tracks",
    "saved_tracks": "etl_saved_tracks",
    "recent_tracks": "etl_recent_tracks",
    "followed_artists": "etl_followed_artists",
    "audio_features": "etl_audio_features",
}


class Checker:
    """The benchmark's side: sends attempts to the child and records
    its verdicts on them."""

    def __init__(self, sf_dir: str, expect: dict[str, str]):
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.verify", sf_dir],
            cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        self._call("set_expect", expect)  # returns once the child is loaded

    def _call(self, method: str, *args):
        pickle.dump((method, args), self.proc.stdin, protocol=pickle.HIGHEST_PROTOCOL)
        self.proc.stdin.flush()
        ok, value = pickle.load(self.proc.stdout)
        if not ok:
            raise RuntimeError(value)
        return value

    def check(self, a) -> None:
        """Set ``a.verdict`` ("ok" or why it failed); an ETL attempt also
        gets its sink counters, and its sink directory is removed."""
        result, a.result = a.result, None
        try:
            if a.error:
                a.verdict = a.error
            elif a.unit == "run_pipeline":
                a.verdict, a.rows, counters = self._call("check_sinks", result)
                a.counters.update(counters)
            else:
                a.verdict, a.rows, a.digest = self._call("check_query", a.unit, result)
        except RuntimeError as exc:  # the check raising counts as a failure
            a.verdict = str(exc)

    def check_full_queries(self, spark, sf_dir: str, registry, attempts) -> None:
        """Rider-free arms whose full query has an oracle: run that query
        once and fail every attempt of the unit if it mismatches."""
        units = sorted({a.unit for a in attempts if a.unit in registry})
        for unit in self._call("full_query_units", units):
            try:
                verdict = self._call("check_full", unit, registry[unit].fn(spark, sf_dir).toPandas())
            except Exception as exc:  # the check failing counts as a mismatch
                verdict = f"full query: {type(exc).__name__}: {exc}"[:500]
            if verdict != "ok":
                for a in attempts:
                    if a.unit == unit:
                        a.verdict = verdict

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.wait(timeout=30)


def fingerprint(pdf) -> tuple[str, int]:
    """(fingerprint, row count) of a pandas DataFrame."""
    # Imported here, in the child: the benchmark's process imports this
    # module for ``Checker`` only and must not load DuckDB.
    from tests.oracle import canonical_rows

    pdf = pdf.rename(columns=str.lower)
    digest = hashlib.sha256(json.dumps(sorted(pdf.columns)).encode())
    for row in canonical_rows(pdf):
        digest.update(json.dumps(row, ensure_ascii=False).encode())
    return digest.hexdigest()[:16], len(pdf)


def digest(pdf) -> str:
    """Order-insensitive digest of a pandas DataFrame's rows and columns."""
    import numpy as np
    import pandas as pd

    from tests.oracle import _canon_cell

    pdf = pdf.rename(columns=str.lower)
    pdf = pdf[sorted(pdf.columns)]
    cols = {}
    for name in pdf.columns:
        col = pdf[name]
        first = col.dropna().head(1).tolist()
        # strings hash natively; other objects (arrays, dates, bytes) by
        # their canonical text so no precision is lost
        if col.dtype == object and first and not isinstance(first[0], str):
            col = col.map(_canon_cell)
        cols[name] = col
    rows = pd.util.hash_pandas_object(pd.DataFrame(cols), index=False).to_numpy(np.uint64)
    names = hashlib.sha256(json.dumps(list(pdf.columns)).encode()).hexdigest()[:8]
    return f"{len(pdf)}:{int(rows.sum(dtype=np.uint64)):016x}:{names}"


class Verifier:
    """The child's side: checks each attempt of a unit once it has run.

    The first successful attempt of a unit gets the full check: its
    canonical fingerprint against the DuckDB oracle when the timed
    callable has one, else a non-empty result. Later attempts must
    repeat its digest. ETL attempts are checked in full every time.
    Oracle fingerprints are computed once per run.
    """

    def __init__(self, sf_dir: str):
        from spotify_app_etl_spark.registry import load_all
        from tests.oracle import duckdb_con

        self.registry = load_all()
        self.con = duckdb_con(sf_dir)
        self.expect: dict[str, str] = {}  # unit -> fingerprint overriding the oracle
        self.first: dict[str, tuple[str, str]] = {}  # unit -> (digest, verdict)
        self._expected: dict[str, str] = {}

    def set_expect(self, expect: dict[str, str]) -> None:
        self.expect = expect

    def expected(self, query_name: str) -> str:
        """Fingerprint of a registered query's DuckDB oracle result."""
        if query_name not in self._expected:
            sql = self.registry[query_name].oracle
            self._expected[query_name] = fingerprint(self.con.sql(sql).df())[0]
        return self._expected[query_name]

    def check_query(self, unit: str, pdf) -> tuple[str, int, str]:
        """(verdict, rows, digest) of one query attempt."""
        got = digest(pdf)
        if unit not in self.first:
            self.first[unit] = (got, self._full_check(unit, pdf))
        ref_digest, verdict = self.first[unit]
        if got != ref_digest:
            verdict = f"output {got} differs from the first run's {ref_digest}"
        return verdict, len(pdf), got

    def _full_check(self, unit: str, pdf) -> str:
        q = self.registry[unit]
        want = self.expect.get(unit)
        if want is None and q.bench_fn is None and q.oracle:
            want = self.expected(unit)
        if want is not None and (got := fingerprint(pdf)[0]) != want:
            return f"fingerprint {got} != expected {want}"
        return "ok" if len(pdf) else "empty result"

    def read_sink(self, table: str, path: str):
        """A written sink as pandas, shaped like its parity query's output
        (``followed_artists.genres`` joined the way ``etl_followed_artists``
        joins it)."""
        pdf = self.con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
        if table == "followed_artists":
            pdf["genres"] = pdf["genres"].map(lambda g: ", ".join(g))
        return pdf

    def check_sinks(self, out_dir: str) -> tuple[str, int, dict[str, int]]:
        """(verdict, rows, sink counters) of one ETL attempt's six tables."""
        rows = files = size = 0
        bad = []
        for table, query_name in SINK_ORACLES.items():
            path = os.path.join(out_dir, table)
            parts = [f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")]
            files += len(parts)
            size += sum(os.path.getsize(os.path.join(path, f)) for f in parts)
            got, n = fingerprint(self.read_sink(table, path))
            rows += n
            want = self.expect.get(f"sink.{table}") or self.expected(query_name)
            if got != want:
                bad.append(f"{table} {got} != {want}")
        shutil.rmtree(out_dir, ignore_errors=True)
        verdict = "ok" if not bad else "sink mismatch: " + "; ".join(bad)
        return verdict, rows, {"sink_files": files, "sink_bytes": size, "sink_rows": rows}

    def full_query_units(self, units: list[str]) -> list[str]:
        """Those of ``units`` timed by a rider-free arm whose full query
        has an oracle."""
        return [u for u in units if self.registry[u].bench_fn is not None
                and self.registry[u].oracle and u not in self.expect]

    def check_full(self, unit: str, pdf) -> str:
        got = fingerprint(pdf)[0]
        return "ok" if got == self.expected(unit) else f"full query {got} != oracle"


def serve(sf_dir: str) -> None:
    """Answer pickled ``(method, args)`` requests on stdin with pickled
    ``(ok, value)`` replies on stdout until stdin closes."""
    verifier = Verifier(sf_dir)
    stdin, stdout = sys.stdin.buffer, sys.stdout.buffer
    while True:
        try:
            method, args = pickle.load(stdin)
        except EOFError:
            break
        try:
            reply = (True, getattr(verifier, method)(*args))
        except Exception as exc:  # reported to the benchmark
            reply = (False, f"{method}: {type(exc).__name__}: {exc}"[:500])
        pickle.dump(reply, stdout, protocol=pickle.HIGHEST_PROTOCOL)
        stdout.flush()
    verifier.con.close()


if __name__ == "__main__":
    serve(sys.argv[1])
