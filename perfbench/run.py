#!/usr/bin/env python3
"""Benchmark for the spotify_app_etl_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload llm_data_ops --seed 1 --seconds 16 --trace 0

Workloads: ``etl_pipeline`` and ``llm_data_ops`` (see README.md), both
on the sf0.01 test data in ``data/sf0.01``. Each run is one client in
a closed loop on ``local[nproc]``: it checks the input tables against
their hashes, starts a session, runs the workload's untimed warm-up
passes over its units, then runs timed passes (unit order permuted by
``--seed``) until ``--seconds`` of pass time and at least four passes
have been measured, and checks every output. The last line of stdout is one
JSON object, ``{"correct", "attempted", "failed", "metrics"}``, with
the end-to-end metrics when ``--trace 0`` and the per-layer metrics
when ``--trace 1`` (Spark event log on, spans recorded).
"""

from __future__ import annotations

import time

_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
#: The input tables: the sf0.01 test data, byte for byte (see SHA256SUMS).
SF_DIR = os.path.join(HERE, "data", "sf0.01")
LAYERS = ("harness", "plans", "etl", "sources", "io", "spark")
#: Timed passes per run at least, so that ``pass_s`` is a median that
#: drops the fastest and the slowest pass even when a slow host
#: stretches the passes past ``--seconds``.
MIN_PASSES = 4
#: Counters that must read the same on every pass of a run.
EXACT_COUNTERS = ("requests", "throttled", "cc_rounds", "sink_files", "spark_jobs")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="spotify_app_etl_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--units",
        default=None,
        help="comma-separated unit names replacing the workload's own "
        "(used by the self-test for a small run)",
    )
    ap.add_argument(
        "--expect",
        default=None,
        help="JSON {unit: fingerprint} replacing the expected fingerprints "
        "(used by the self-test to prove a wrong one is caught)",
    )
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def median(values):
    return statistics.median(values) if values else 0.0


def stop_processes(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to exit; kill what is still alive after the timeout."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if not _exited(p)]
        if alive:
            time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _exited(pid: int) -> bool:
    """Gone, or a zombie waiting for a parent that is not this process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
        return stat[stat.rindex(b")") + 2 :].split()[0] == b"Z"
    except OSError:
        return True


def check_inputs(sf_dir: str) -> list[str]:
    """Input tables missing or not matching ``SHA256SUMS``."""
    bad = []
    with open(os.path.join(sf_dir, "SHA256SUMS")) as fh:
        for line in fh:
            want, name = line.split()
            try:
                with open(os.path.join(sf_dir, name), "rb") as data:
                    got = hashlib.sha256(data.read()).hexdigest()
            except OSError:
                got = None
            if got != want:
                bad.append(name)
    return bad


def untraced_pass_s(args) -> float:
    """Median pass time of a fresh untraced run of the same checkout,
    workload, units and seed."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    if args.units:
        cmd += ["--units", args.units]
    done = subprocess.run(cmd, capture_output=True, text=True, check=True, cwd=ROOT)
    return json.loads(done.stdout.strip().splitlines()[-1])["metrics"]["pass_s"]["value"]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isdir(os.path.join(ROOT, "spotify_app_etl_spark"))
        and os.path.isfile(os.path.join(ROOT, "tests", "oracle.py"))
    ):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    units = list(workloads.WORKLOADS[args.workload])
    if args.units:
        units = [u for u in args.units.split(",") if u]
    os.makedirs(OUT, exist_ok=True)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    # Outside the set-up clock: the input check, and the untraced
    # reference a traced run compares against.
    t = time.perf_counter()
    bad = check_inputs(SF_DIR)
    if bad:
        print(f"perfbench: input tables differ from SHA256SUMS: {bad}", file=sys.stderr)
        return 2
    reference_pass_s = untraced_pass_s(args) if args.trace else None
    sf_dir = SF_DIR
    excluded_s = time.perf_counter() - t

    tmp = os.path.join(OUT, f"tmp-{run_id}")
    os.makedirs(tmp, exist_ok=True)
    cpus = nproc()
    # Read at import by the engine (session.DEFAULT_CPUS, AQE partitions).
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # The inputs are small; a 2 GiB heap keeps the run light on a shared host.
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # for the launcher JVM that spark-submit starts before the driver's
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    event_dir = os.path.join(tmp, "eventlog")

    from perfbench.procmem import PeakRss, descendants
    from perfbench.tracing import Tracer
    from perfbench.verify import Checker

    tracer = Tracer(run_id, enabled=bool(args.trace))
    expect_override = json.loads(args.expect) if args.expect else {}
    rng = random.Random(args.seed)
    info: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "nproc": cpus, "sf": os.path.basename(SF_DIR),
                  "units": units, "run_id": run_id}
    layer: dict[str, float] = {}

    # Started outside the set-up clock and left out of the memory sample.
    t = time.perf_counter()
    checker = Checker(sf_dir, expect_override)
    excluded_s += time.perf_counter() - t

    with PeakRss(exclude=frozenset({checker.proc.pid})) as mem:
        with tracer.span("session.import", "session"):
            t = time.perf_counter()
            import pyspark

            from spotify_app_etl_spark.registry import load_all
            from spotify_app_etl_spark.session import get_spark

            registry = load_all()
            layer["session.import_s"] = time.perf_counter() - t
        confs = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # -Xms equal to the 2 GiB -Xmx: G1 then never resizes the heap,
            # whose growth timing otherwise moves the JVM's resident set
            # by a third between identical runs
            "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            os.makedirs(event_dir)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with tracer.span("session.get_spark", "session"):
            t = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_confs=confs)
            layer["session.get_spark_s"] = time.perf_counter() - t
        info["spark_version"] = spark.version
        info["pyspark_version"] = pyspark.__version__
        gateway_proc = spark.sparkContext._gateway.proc

        runner = workloads.Runner(spark, sf_dir, registry, tracer, os.path.join(tmp, "sinks"))

        def run_pass(pass_no: int):
            order = list(units)
            rng.shuffle(order)
            with tracer.span(f"pass{pass_no}", "harness") as root:
                t0 = time.perf_counter()
                attempts = [runner.run(u, pass_no, run_id) for u in order]
                wall = time.perf_counter() - t0
            return {"no": pass_no, "wall": wall, "attempts": attempts, "root": root}

        warm = []
        warm_s = 0.0
        for _ in range(workloads.WARMUP_PASSES[args.workload]):
            t = time.perf_counter()
            warm.append(run_pass(0))
            warm_s += time.perf_counter() - t
            t = time.perf_counter()
            with mem.paused():
                for a in warm[-1]["attempts"]:
                    checker.check(a)
            excluded_s += time.perf_counter() - t
        layer["session.warmup_s"] = warm_s
        setup_s = time.perf_counter() - _PROCESS_START - excluded_s

        passes = []
        measured = verify_s = 0.0
        while len(passes) < MIN_PASSES or measured < args.seconds:
            p = run_pass(len(passes) + 1)
            measured += p["wall"]
            t = time.perf_counter()
            with mem.paused():
                for a in p["attempts"]:
                    checker.check(a)
            verify_s += time.perf_counter() - t
            passes.append(p)
    peak_by_role = {k: v / 2**20 for k, v in mem.peak_by_role.items()}
    info["peak_rss_mb_by_role"] = peak_by_role

    # Untimed: proof-laden variants of rider-free arms against their oracles.
    t = time.perf_counter()
    spark.sparkContext.setJobGroup(f"{run_id}-verify", "verify")
    everything = [a for p in warm + passes for a in p["attempts"]]
    checker.check_full_queries(spark, sf_dir, registry, everything)
    checker.close()
    info["verify_s"] = verify_s + time.perf_counter() - t

    t = time.perf_counter()
    tree = descendants(os.getpid())[1:]
    spark.stop()
    gateway_proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway_proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        gateway_proc.kill()
        gateway_proc.wait()
    stop_processes(tree)
    info["shutdown_s"] = time.perf_counter() - t

    timed = [a for p in passes for a in p["attempts"]]
    failed = sum(1 for a in timed if a.verdict != "ok")
    correct = all(a.verdict == "ok" for a in everything)
    latencies = [a.latency_s for a in timed if a.error is None] or [0.0]
    pass_walls = [p["wall"] for p in passes]
    info.update({
        **{k: v for k, v in layer.items() if k.startswith("session.")},
        "warmup_passes": len(warm),
        "passes": len(passes),
        "unit_samples": len(latencies),
        "pass_samples": len(pass_walls),
        "setup_excluded_s": excluded_s,
        "failures": sorted({f"{a.unit}: {a.verdict}" for a in everything if a.verdict != "ok"}),
    })

    per_pass = [pass_counters(p) for p in warm + passes]
    if args.trace:
        from perfbench import eventlog

        groups = eventlog.parse(event_dir)
        add_stage_spans(tracer, groups, everything)
        for p, counters in zip(warm + passes, per_pass):
            counters.update(spark_counters(groups, p["attempts"]))
        info["unattributed_jobs"] = groups.get("", {}).get("jobs", 0)
        metrics = layer_metrics(
            layer, passes, per_pass, tracer, reference_pass_s, failed, len(timed)
        )
        for role in ("driver", "jvm", "workers"):
            metrics[f"mem.{role}_peak_mb"] = (peak_by_role[role], "MB")
        metrics["mem.workers"] = (mem.max_workers, "count")
        info["per_unit"] = {
            a.group: {"unit": a.unit, "pass": a.pass_no, "latency_s": a.latency_s,
                      **a.phases, **a.counters, **a.spark}
            for a in everything
        }
        tracer.write(os.path.join(OUT, f"{run_id}.spans.jsonl"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (median(pass_walls), "s"),
            "unit_p50_s": (median(latencies), "s"),
            "unit_p90_s": (quantile(latencies, 0.9), "s"),
            "peak_rss_mb": (mem.peak_bytes / 2**20, "MB"),
        }
        info["per_unit"] = {
            a.group: {"unit": a.unit, "pass": a.pass_no, "latency_s": a.latency_s, **a.phases}
            for a in everything
        }
    info["counters_per_pass"] = per_pass
    detail = os.path.join(OUT, f"{run_id}.json")
    with open(detail, "w") as fh:
        json.dump(info, fh, indent=1, default=str)
    shutil.rmtree(tmp, ignore_errors=True)

    summary = {k: v for k, v in info.items() if k not in ("per_unit", "counters_per_pass")}
    summary["detail"] = os.path.relpath(detail, ROOT)
    print("perfbench " + json.dumps(summary, default=str))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def pass_counters(p) -> dict:
    out = {"requests": 0, "throttled": 0, "cc_rounds": 0, "sink_files": 0,
           "sink_bytes": 0, "sink_rows": 0, "persist_leaked": 0}
    for a in p["attempts"]:
        for k, v in a.counters.items():
            out[k] = max(out[k], v) if k == "persist_leaked" else out[k] + v
    return out


def spark_counters(groups, attempts) -> dict:
    from perfbench.eventlog import COUNTERS, group_metrics

    total: dict[str, float] = {}
    for a in attempts:
        g = groups.get(a.group)
        a.spark = group_metrics(g, (a.start, a.end)) if g else {"driver_gap_s": a.end - a.start}
        for k, v in a.spark.items():
            total[k] = total.get(k, 0) + v
    for k in COUNTERS + ("stage_span_s", "driver_gap_s"):
        total.setdefault(k, 0)
    total["spark_jobs"] = total["jobs"]
    return total


def add_stage_spans(tracer, groups, attempts) -> None:
    """Place each unit's Spark stages under the deepest span they ran in."""
    by_id = {s.id: s for s in tracer.spans}

    def depth(s) -> int:
        d = 0
        while s.parent in by_id:
            s, d = by_id[s.parent], d + 1
        return d

    ranked = sorted(tracer.spans, key=depth, reverse=True)
    for a in attempts:
        for start, end in groups.get(a.group, {}).get("stage_intervals", []):
            start, end = max(start, a.start), min(end, a.end)
            if end <= start:
                continue
            mid = (start + end) / 2
            host = next((s for s in ranked if s.start <= mid < s.end), None)
            tracer.add("spark.stage", "spark", start, end, host.id if host else None)


def layer_metrics(layer, passes, per_pass, tracer, reference_pass_s, failed, attempted):
    timed = per_pass[-len(passes):]

    def med(key):
        return median([c.get(key, 0) for c in timed])

    def phase(name):
        return median([sum(a.phases.get(name, 0.0) for a in p["attempts"]) for p in passes])

    selfs = [tracer.self_times(p["root"]) for p in passes]
    traced_pass_s = median([p["wall"] for p in passes])
    m = {
        "session.import_s": (layer["session.import_s"], "s"),
        "session.get_spark_s": (layer["session.get_spark_s"], "s"),
        "session.warmup_s": (layer["session.warmup_s"], "s"),
        "plans.build_s": (phase("build"), "s"),
        "plans.action_s": (phase("action"), "s"),
        "sources.requests": (timed[0]["requests"], "count"),
        "sources.throttled": (timed[0]["throttled"], "count"),
        "sources.driver_s": (phase("sources_driver"), "s"),
        "etl.run_pipeline_s": (phase("run_pipeline"), "s"),
    }
    from perfbench.workloads import ETL_TABLES

    for table in ETL_TABLES:
        m[f"etl.sink_s.{table}"] = (phase(f"sink.{table}"), "s")
    sink_bytes, sink_rows = med("sink_bytes"), med("sink_rows")
    m.update({
        "io.sink_bytes": (sink_bytes, "bytes"),
        "io.sink_files": (timed[0]["sink_files"], "count"),
        "io.bytes_per_row": (sink_bytes / sink_rows if sink_rows else 0.0, "bytes/row"),
        "operators.cc_rounds": (timed[0]["cc_rounds"], "count"),
        "operators.persist_leaked": (max(c["persist_leaked"] for c in timed), "count"),
        "spark.jobs": (timed[0]["jobs"], "count"),
        "spark.stages": (timed[0]["stages"], "count"),
        "spark.tasks": (timed[0]["tasks"], "count"),
        "spark.task_failures": (sum(c["task_failures"] for c in timed), "count"),
    })
    for k in ("driver_gap_s", "stage_span_s", "executor_run_s", "executor_cpu_s", "gc_s"):
        m[f"spark.{k}"] = (med(k), "s")
    for k in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "python_bytes"):
        m[f"spark.{k}"] = (med(k), "bytes")
    for name in LAYERS:
        m[f"self_s.{name}"] = (median([s.get(name, 0.0) for s in selfs]), "s")
    m["trace.pass_s"] = (traced_pass_s, "s")
    m["trace.overhead_s"] = (traced_pass_s - reference_pass_s, "s")
    m["trace.accounted_ratio"] = (
        1.0 - m["self_s.harness"][0] / traced_pass_s if traced_pass_s else 0.0, "ratio"
    )
    mismatched = [k for k in EXACT_COUNTERS if len({c.get(k) for c in per_pass}) > 1]
    m["counters.repeat_mismatch"] = (len(mismatched), "count")
    m["counters.pin_drift"] = (pin_drift(passes[0]["attempts"]), "count")
    m["failed_ratio"] = (failed / attempted if attempted else 0.0, "ratio")
    return m


def pin_drift(attempts) -> int:
    """Pinned exact counters (``pins.json``, per unit) that these
    attempts miss; a unit without pins counts as one."""
    with open(os.path.join(HERE, "pins.json")) as fh:
        pins = json.load(fh)
    drift = 0
    for a in attempts:
        got = {**a.counters, "spark_jobs": a.spark.get("jobs", 0)}
        want = pins.get(a.unit)
        drift += 1 if want is None else sum(got.get(k, 0) != v for k, v in want.items())
    return drift


if __name__ == "__main__":
    sys.exit(main())
