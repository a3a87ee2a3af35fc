#!/usr/bin/env python3
"""Benchmark of the catalog engine, end to end and layer by layer.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Run it from the repository root. With ``--trace 0`` the last line of
stdout is one JSON object holding every end-to-end metric; with
``--trace 1`` the same workload runs with spans and Spark's event log on,
and the object holds every per-layer metric instead. The line before it is
the run's record: core count, scale, seed, fixture size, engine versions
and the raw samples. See ``perfbench/README.md`` for what is measured and
why.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
RUNS_DIR = os.path.join(BENCH_DIR, ".runs")
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=["catalog", "analytics_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _prepare_env(root: str, work: str) -> int:
    """Point every temporary location of Spark, the JVM and the Python
    workers inside ``work``; returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # Spark's Python workers import the program from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # artifacts carry a generation time; pin it so they are reproducible
    os.environ["BDS_GENERATION_TIME"] = "2026-01-01T00:00:00"
    import tempfile

    tempfile.tempdir = None
    return cores


def _alive(pid: int) -> bool:
    """Running, not yet reaped zombie, not gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_processes() -> None:
    """Stop the JVM the session launched and wait for every process below
    this one to end."""
    from pyspark import SparkContext

    from tracing import descendants

    left = descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    for grace_s, signal in ((60, None), (10, 15), (10, 9)):
        deadline = time.monotonic() + grace_s
        while left and time.monotonic() < deadline:
            left = [p for p in left if _alive(p)]
            time.sleep(0.1)
        for pid in left if signal else ():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal)


def _baseline(workload: str) -> list[dict]:
    path = os.path.join(RUNS_DIR, f"{workload}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _record_run(workload: str, metrics: dict) -> None:
    os.makedirs(RUNS_DIR, exist_ok=True)
    with open(os.path.join(RUNS_DIR, f"{workload}.jsonl"), "a") as fh:
        fh.write(json.dumps({k: v["value"] for k, v in metrics.items()}) + "\n")


def main(argv: list[str]) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "burst_db_spark", "__init__.py")):
        print("perfbench: run from the repository root (no burst_db_spark here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = _prepare_env(root, work)

    import workloads
    from tracing import RssSampler, Tracer

    with open(os.path.join(BENCH_DIR, "expected.json")) as fh:
        expected = json.load(fh)
    ctx = argparse.Namespace(
        seed=args.seed,
        seconds=args.seconds,
        root=root,
        work=work,
        cache_dir=CACHE_DIR,
        tmp_dir=os.environ["TMPDIR"],
        cores=cores,
        expected=expected,
        tracer=Tracer(bool(args.trace)),
        session=workloads.Session(work, bool(args.trace)),
    )
    sampler = RssSampler()
    try:
        with sampler if args.trace else contextlib.nullcontext():
            outcome = workloads.WORKLOADS[args.workload](ctx)
    finally:
        ctx.session.stop()
        _stop_processes()
        shutil.rmtree(work, ignore_errors=True)

    med = workloads.median
    e2e = {
        "setup_s": {"value": med(outcome.setup_s), "unit": "s"},
        "round_s": {"value": med(outcome.round_s), "unit": "s"},
        "op_p50_ms": {"value": med(outcome.op_ms), "unit": "ms"},
    }
    if args.trace:
        layers = dict.fromkeys(workloads.PER_LAYER, 0.0)
        layers.update(outcome.layers)
        layers["session.peak_rss_mb"] = sampler.peak_bytes / 1e6
        base = [r["round_s"] for r in _baseline(args.workload)]
        layers["trace.round_s"] = e2e["round_s"]["value"]
        layers["trace.baseline_runs"] = float(len(base))
        if base:
            layers["trace.overhead_pct"] = 100 * (
                e2e["round_s"]["value"] / statistics.median(base) - 1
            )
        metrics = {
            k: {"value": v, "unit": workloads.PER_LAYER[k][0]} for k, v in layers.items()
        }
    else:
        metrics = e2e
        if outcome.failed == 0:
            _record_run(args.workload, e2e)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cores,
        "sf": workloads.MIX_SF if args.workload == "analytics_mix" else None,
        "fixture": workloads.FIXTURE if args.workload == "catalog" else None,
        "engines": ctx.session.engines,
        "samples": {
            "setup_s": outcome.setup_s,
            "round_s": outcome.round_s,
            "op_ms": outcome.op_ms,
        },
        **outcome.record,
        "problems": outcome.problems,
    }
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": outcome.failed == 0,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
