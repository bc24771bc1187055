#!/usr/bin/env python3
"""Self-test of the benchmark, at a small setting (about eight minutes).

Checks that:

1. an untraced run prints every end-to-end metric of BENCHMARK.json,
   each with its unit, and verifies its outputs;
2. a traced run prints every per-layer metric with its unit, and two
   traced runs repeat the exact counters (sources.*, spark.jobs,
   io.sink_files, operators.cc_rounds) to the count;
3. a wrong expected fingerprint, for a query and for an ETL sink, is
   counted as a failure;
4. in a directory holding only BENCHMARK.json and the benchmark's own
   files the command exits non-zero without printing a result.

Usage: ``python3 perfbench/selftest.py`` from the repository root.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: One unit of each kind: the ETL pipeline, a query with an oracle
#: (exact dedup), and connected components (cc_rounds, checkpoint
#: scopes).
UNITS = "run_pipeline,ns_dedup_exact,ns_dedup_clusters"
EXACT = ("sources.requests", "sources.throttled", "spark.jobs", "io.sink_files",
         "operators.cc_rounds")


def run(cwd: str, trace: int, *extra: str) -> tuple[int, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", "etl_pipeline", "--seed", "3",
           "--seconds", "0", "--trace", str(trace), "--units", UNITS, *extra]
    done = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = done.stdout.strip().splitlines()
    try:
        return done.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return done.returncode, None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures: list[str] = []

    def check(ok: bool, what: str) -> None:
        print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
        if not ok:
            failures.append(what)

    def names_and_units(result: dict | None, section: str) -> None:
        want = {m["name"]: m["unit"] for m in spec[section]}
        got = {k: v.get("unit") for k, v in (result or {}).get("metrics", {}).items()}
        check(got == want, f"{section}: every metric printed once with its unit")
        check(
            all(isinstance(v.get("value"), (int, float)) for v in result["metrics"].values())
            if result else False,
            f"{section}: every value is a number",
        )

    rc, untraced = run(ROOT, 0)
    check(rc == 0 and untraced is not None, "untraced run exits 0 with a result")
    names_and_units(untraced, "end_to_end")
    check(bool(untraced) and untraced["correct"] and untraced["failed"] == 0,
          "untraced run verifies its outputs")

    traced = [run(ROOT, 1) for _ in range(2)]
    check(all(rc == 0 and r is not None for rc, r in traced), "traced runs exit 0 with a result")
    names_and_units(traced[0][1], "per_layer")
    if all(r for _, r in traced):
        a, b = (r["metrics"] for _, r in traced)
        for name in EXACT:
            check(a[name]["value"] == b[name]["value"],
                  f"{name} repeats across runs ({a[name]['value']} / {b[name]['value']})")
        check(a["sources.requests"]["value"] > 0 and a["operators.cc_rounds"]["value"] > 0,
              "sources and operators counters are exercised")
        check(a["counters.repeat_mismatch"]["value"] == 0, "counters repeat across passes")
        check(a["counters.pin_drift"]["value"] == 0, "counters match pins.json")

    wrong = json.dumps({"ns_dedup_exact": "0" * 16, "sink.playlists": "0" * 16})
    rc, bad = run(ROOT, 0, "--expect", wrong)
    check(rc == 0 and bad is not None and not bad["correct"], "wrong fingerprint: run is not correct")
    check(bool(bad) and bad["failed"] == 2 * bad["attempted"] // 3,
          "wrong fingerprint: the query and the ETL attempts count as failed")

    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".out")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".out", "__pycache__"))
        rc, result = run(bare, 0)
        check(rc != 0 and result is None, "without the engine: non-zero exit, no result")

    print("selftest:", "FAILED " + "; ".join(failures) if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
