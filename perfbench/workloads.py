"""The two workloads. Each is closed loop with one client: the next call
starts when the previous one has returned.

``catalog``: the paper's catalog steps and its read path. On the EP1
frame/burst catalog of this checkout's program (built by ``create`` once
and kept), it runs the three CLI steps that follow, ``create-blackout``,
``make-burst-catalog`` and ``make-reference-dates``, then answers seeded
EP3 ``lookup`` and ``intersect`` requests for ``--seconds``, each request
doing what the CLI command does. A cold ``create`` costs 30-60 s in a
fresh JVM, too much to pay in each of the many runs a comparison makes;
the traced run builds the catalog afresh, so ``create`` and its writers
are measured layer by layer there.

``analytics_mix``: registry rows, one per stratum, each built and forced
with the noop sink, with ``clearCache()`` between rows as ``bench.py``
does, in passes for ``--seconds`` (at least ``MIN_PASSES``) after an
untimed first pass; the seed permutes the order within each pass.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import io
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import checks
import datagen
import eventlog
from tracing import Hygiene, Tracer, wrap_writers

# Fixture size for the catalog: 120 triplets on 2 tracks gives 12 frames.
# The pipeline's cost is almost all fixed per-job cost (81 Spark jobs in
# ``create``), which is what a catalog build pays at any size on one
# machine: the program's default of 600 triplets on 12 tracks costs only
# a tenth more, and 30 triplets on one track a tenth less.
FIXTURE = (120, 2)

# One row per stratum of the headline bench, chosen as the cheapest row of
# each so that a pass fits the run budget. The catalog-domain stratum has
# no row here: the ``catalog`` workload runs its EP2 step, through the CLI,
# in every run.
STRATA = {
    "tpch": ["q1_pricing_summary"],
    "python_boundary": ["t_rrf_hybrid_search"],
    "iterative": ["t_bpe_encode"],
    "streaming": ["stream_interval_counts"],
}
MIX_ROWS = [r for rows in STRATA.values() for r in rows]
MIX_SF = 0.01
MIX_DATA_SEED = 42

SESSION_STARTS = 4
# the median of three passes holds when the host stalls one of them
MIN_PASSES = 3
MIN_REQUESTS = 8
WARMUP_REQUESTS = 4

ROUND_STEPS = ("blackout", "burst_catalog", "reference_dates")
CATALOG_STEPS = ("create", *ROUND_STEPS)
WRITER_SPANS = (
    "sinks.write_parquet.frames",
    "sinks.write_parquet.bridge",
    "sinks.write_parquet.bursts",
    "sources.json_docs.write_envelope",
    "sources.geojson.write_geojson",
    "sinks.write_sqlite",
    "sources.gpkg.write_gpkg",
    "sinks.write_metadata_table",
)
ARTIFACTS = {
    "frames": "db/frames",
    "frames_bursts": "db/frames_bursts",
    "burst_id_map": "db/burst_id_map",
    "frame_to_burst": "db/frame_to_burst.json.gz",
    "burst_to_frame": "db/burst_to_frame.json.gz",
    "geojson": "db/frames.geojson",
    "metadata": "db/metadata",
    "sqlite": "db/minimal.sqlite",
    "gpkg": "db/frames.gpkg",
    "blackout": "blackout.json",
    "burst_catalog": "catalog.json",
    "reference_dates": "reference_dates.json",
}


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    setup_s: list[float] = field(default_factory=list)
    round_s: list[float] = field(default_factory=list)
    op_ms: list[float] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    record: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


class Session:
    """Starts and stops the program's SparkSession. In a traced run each
    start writes its own uncompressed event log."""

    def __init__(self, work: str, traced: bool):
        self.work = work
        self.traced = traced
        self.spark = None
        self.starts = 0
        self.log_dir = None
        self.engines: dict[str, str] = {}

    def start(self) -> float:
        from __spark_entry__ import engine_versions
        from burst_db_spark.session import get_spark

        self.stop()
        # keep the JVM's temporary files (and its perf-data file, which
        # ignores java.io.tmpdir) out of the system temp directory
        conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
        }
        if self.traced:
            self.log_dir = os.path.join(self.work, "eventlog", str(self.starts))
            os.makedirs(self.log_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.log_dir}",
                    "spark.eventLog.compress": "false",
                }
            )
        self.starts += 1
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.range(1).count()
        elapsed = time.perf_counter() - t0
        self.engines = engine_versions(self.spark)
        return elapsed

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def events(self) -> list[dict]:
        """The current session's event log; stops the session so the log
        is complete."""
        self.stop()
        (app,) = os.listdir(self.log_dir)
        return eventlog.read_events(os.path.join(self.log_dir, app))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _spark_layers(fold_, roots: set[int], wall_s: float, cores: int) -> dict[str, float]:
    lay = eventlog.layers(fold_, roots)
    return {
        "spark.jobs": lay["jobs"],
        "spark.stages": lay["stages"],
        "spark.tasks": lay["tasks"],
        "spark.tasks_per_stage_p50": lay["tasks_per_stage_p50"],
        "spark.single_task_stage_share": lay["single_task_stage_share"],
        "spark.executor_run_s": lay["executor_run_s"],
        "spark.cpu_efficiency": lay["executor_run_s"] / (wall_s * cores) if wall_s else 0.0,
        "spark.gc_s": lay["gc_s"],
        "spark.driver_idle_share": max(0.0, 1 - lay["job_busy_s"] / wall_s) if wall_s else 0.0,
        "spark.python_worker_s": lay["python_worker_s"],
        "spark.python_worker_start_ms": lay["python_worker_start_ms"],
        "spark.shuffle_write_mb": lay["shuffle_write_mb"],
        "spark.spill_mb": lay["spill_mb"],
        "state.commit_s": lay["state_commit_s"],
        "state.instances": lay["state_instances"],
    }


def _span_wall_s(tracer: Tracer, roots: set[int]) -> float:
    return sum((tracer.spans[i].end_ms - tracer.spans[i].start_ms) / 1000 for i in roots)


# ---------------------------------------------------------------- catalog


def _cli(tracer, outcome, step: str, argv: list[str]) -> str | None:
    """One CLI step through ``burst_db_spark.__main__.main``; returns its
    stdout, or None when it failed (the failure is counted)."""
    from burst_db_spark.__main__ import main

    outcome.attempted += 1
    out = io.StringIO()
    try:
        with tracer.span(f"step.{step}"), contextlib.redirect_stdout(out):
            rc = main(argv)
        if rc != 0:
            raise RuntimeError(f"exit code {rc}")
    except Exception:  # noqa: BLE001 - a failed step is counted
        _log_failure(f"step {step}")
        outcome.fail(f"step {step} raised")
        return None
    return out.getvalue()


def _create(tracer, outcome, db: str) -> bool:
    n, tracks = FIXTURE
    argv = ["create", "--out", db, "--n-triplets", str(n), "--n-tracks", str(tracks)]
    t0 = time.perf_counter()
    ok = _cli(tracer, outcome, "create", argv) is not None
    outcome.record["create_s"] = time.perf_counter() - t0
    return ok


def _program_key(root: str) -> str:
    """Digest of the program's sources and the fixture size: a built
    catalog is reused only by the code that built it."""
    h = hashlib.sha256(repr(FIXTURE).encode())
    pkg = os.path.join(root, "burst_db_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, pkg).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _cached_create(ctx, outcome) -> str | None:
    """The EP1 catalog of this checkout's program, built by the first run
    that needs it and kept under ``ctx.cache_dir``; returns its path."""
    db = os.path.join(ctx.cache_dir, _program_key(ctx.root), "db")
    if os.path.isdir(db):
        return db
    shutil.rmtree(ctx.cache_dir, ignore_errors=True)
    staging = f"{os.path.dirname(db)}.{os.getpid()}"
    if not _create(Tracer(False), outcome, os.path.join(staging, "db")):
        return None
    os.rename(staging, os.path.dirname(db))
    return db


def _run_catalog_round(tracer, db: str, out_dir: str, outcome) -> bool:
    """The three CLI steps after ``create``, on the catalog in ``db``."""
    bo = os.path.join(out_dir, "blackout.json")
    cat = os.path.join(out_dir, "catalog.json")
    refs = os.path.join(out_dir, "reference_dates.json")
    argvs = {
        "blackout": ["create-blackout", "--db", db, "--out", bo],
        "burst_catalog": ["make-burst-catalog", "--db", db, "--out", cat, "--blackout", bo],
        "reference_dates": ["make-reference-dates", "--consistent-json", cat, "--out", refs],
    }
    step_s = {}
    t_round = time.perf_counter()
    with tracer.span("round"):
        for step in ROUND_STEPS:
            t0 = time.perf_counter()
            if _cli(tracer, outcome, step, argvs[step]) is None:
                return False
            step_s[step] = time.perf_counter() - t0
    outcome.round_s.append(time.perf_counter() - t_round)
    outcome.record["step_s"] = step_s
    return True


def _request(spark, tracer, db: str, kind: str, arg):
    from burst_db_spark.geo.wkt import rect_wkt
    from burst_db_spark.plans import query_frame

    with tracer.span(f"request.{kind}"):
        if kind == "lookup":
            with tracer.span("lookup.read"):
                frames = spark.read.parquet(f"{db}/frames")
                bridge = spark.read.parquet(f"{db}/frames_bursts")
            with tracer.span("lookup.plan"):
                df = query_frame.lookup(frames, bridge, arg)
            with tracer.span("lookup.collect"):
                rows = df.collect()
            return [(r.frame_fid, r.n_bursts, r.burst_ids) for r in rows]
        with tracer.span("intersect.read"):
            frames = spark.read.parquet(f"{db}/frames")
        with tracer.span("intersect.plan"):
            df = query_frame.intersect(
                frames.withColumnRenamed("sxmin", "xmin")
                .withColumnRenamed("symin", "ymin")
                .withColumnRenamed("sxmax", "xmax")
                .withColumnRenamed("symax", "ymax"),
                rect_wkt(*arg),
            )
        with tracer.span("intersect.collect"):
            rows = df.collect()
        return sorted(r.frame_fid for r in rows)


def _draw_request(rng: random.Random, kind: str, fids: list[int],
                  centres: list[tuple[float, float]]):
    if kind == "lookup":
        return rng.choice(fids)
    # a square of side 1-20 degrees over the centre of a frame: from one
    # frame to most of the catalog
    side = rng.uniform(1.0, 20.0)
    cx, cy = rng.choice(centres)
    x = cx + rng.uniform(-side, 0.0)
    y = cy + rng.uniform(-side, 0.0)
    return x, y, x + side, y + side


def catalog(ctx) -> Outcome:
    outcome = Outcome()
    session, tracer = ctx.session, ctx.tracer
    for _ in range(SESSION_STARTS):
        outcome.setup_s.append(session.start())
    out_dir = os.path.join(ctx.work, "catalog")
    os.makedirs(out_dir)
    spark = session.spark
    hygiene = Hygiene(spark, ctx.tmp_dir)
    watch = hygiene.watch if tracer.enabled else contextlib.nullcontext
    db = _cached_create(ctx, outcome)
    if db is None:
        return outcome
    with watch():
        if not _run_catalog_round(tracer, db, out_dir, outcome):
            return outcome

    ref = checks.CatalogReference(db)
    try:
        rng = random.Random(ctx.seed)
        fids = ref.frame_ids()
        centres = ref.frame_centres()
        # untimed requests first, drawn apart from the seeded ones: the
        # first requests in a fresh JVM run up to twice as slow while it
        # compiles the request path and starts the intersect UDF's workers
        warm_rng = random.Random(0)
        for i in range(WARMUP_REQUESTS):
            kind = ("lookup", "intersect")[i % 2]
            arg = _draw_request(warm_rng, kind, fids, centres)
            outcome.attempted += 1
            try:
                _request(spark, Tracer(False), db, kind, arg)
            except Exception:  # noqa: BLE001
                _log_failure(f"warm-up {kind}")
                outcome.fail(f"warm-up {kind} raised")
        answers = []
        lat: dict[str, list[float]] = {"lookup": [], "intersect": []}
        sent = 0
        t_end = time.perf_counter() + ctx.seconds
        with watch():
            while time.perf_counter() < t_end or sent < MIN_REQUESTS:
                # the kinds alternate, so every run times both
                kind = ("lookup", "intersect")[sent % 2]
                sent += 1
                arg = _draw_request(rng, kind, fids, centres)
                outcome.attempted += 1
                t0 = time.perf_counter()
                try:
                    got = _request(spark, tracer, db, kind, arg)
                except Exception:  # noqa: BLE001
                    _log_failure(f"{kind} {arg}")
                    outcome.fail(f"{kind} {arg} raised")
                    continue
                ms = (time.perf_counter() - t0) * 1000
                outcome.op_ms.append(ms)
                lat[kind].append(ms)
                answers.append((kind, arg, got))

        # checks, outside the timed region
        for kind, arg, got in answers:
            want = ref.lookup(arg) if kind == "lookup" else ref.intersect(arg)
            if kind == "lookup":
                same = checks.row_digest(want) == checks.row_digest(got)
            else:
                same = want == got
            if not same:
                outcome.fail(f"{kind} {arg}: got {got}, want {want}")
        bad = ref.invariant_failures()
        json_files = [os.path.join(out_dir, p) for p in
                      ("blackout.json", "catalog.json", "reference_dates.json")]
        digest = checks.artifact_digest(db, out_dir, json_files)
        if digest != ctx.expected["catalog_digest"]:
            bad.append(f"artifact digest {digest} != recorded {ctx.expected['catalog_digest']}")
        for what in bad:
            outcome.fail(f"catalog artifacts: {what}")
        hits = sum(len(got) for kind, _, got in answers if kind == "intersect")
    finally:
        ref.close()

    outcome.record.update(
        {
            "n_frames": len(fids),
            "requests": {k: len(v) for k, v in lat.items()},
            "artifact_digest": digest,
            "intersect_hits": hits,
        }
    )
    if tracer.enabled:
        # a fresh build gives ``create`` and every writer it calls a span;
        # it comes last so that the round and the requests run as cold as
        # in an untraced run
        with wrap_writers(tracer), watch():
            _create(tracer, outcome, os.path.join(out_dir, "db"))
        artifact_bytes = {k: _dir_bytes(os.path.join(out_dir, p)) for k, p in ARTIFACTS.items()}
        _catalog_layers(ctx, outcome, lat, artifact_bytes, len(fids), hits, hygiene)
    return outcome


def _catalog_layers(ctx, outcome, lat, artifact_bytes, n_frames, hits, hygiene):
    tracer = ctx.tracer
    fold_ = eventlog.fold(ctx.session.events(), tracer.spans)
    lay = outcome.layers
    for step in CATALOG_STEPS:
        lay[f"{step}.s"] = tracer.seconds(f"step.{step}")
    for name in WRITER_SPANS:
        lay[f"{name}.s"] = tracer.seconds(name)
    lay["artifact_mb"] = sum(artifact_bytes.values()) / 1e6
    for k, v in artifact_bytes.items():
        lay[f"artifact.{k}.bytes"] = float(v)
    create = eventlog.layers(fold_, tracer.ids("step.create"))
    lay["geo.udf_rows_per_frame"] = create["python_rows"] / n_frames if n_frames else 0.0
    isect = eventlog.layers(fold_, tracer.ids("request.intersect"))
    lay["geo.intersect_candidates_per_hit"] = isect["python_rows"] / max(hits, 1)
    n_req = len(outcome.op_ms)
    for kind in ("lookup", "intersect"):
        n = len(lat[kind])
        for part in ("read", "plan", "collect"):
            lay[f"{kind}.{part}_ms"] = tracer.seconds(f"{kind}.{part}") * 1000 / n if n else 0.0
        lay[f"{kind}.p50_ms"] = median(lat[kind])
        lay[f"{kind}.n"] = float(n)
    requests = tracer.ids("request.")
    req = eventlog.layers(fold_, requests)
    lay["scan.files_per_request"] = req["files_read"] / n_req if n_req else 0.0
    roots = tracer.ids("step.create") | tracer.ids("round") | requests
    lay.update(_spark_layers(fold_, roots, _span_wall_s(tracer, roots), ctx.cores))
    lay["spark.jobs_per_request"] = req["jobs"] / n_req if n_req else 0.0
    _hygiene_layers(lay, hygiene)


def _hygiene_layers(lay: dict, hygiene: Hygiene) -> None:
    lay["hygiene.tmp_entries_leaked"] = float(hygiene.tmp_entries_leaked)
    lay["hygiene.cached_blocks_left"] = float(hygiene.cached_blocks_left)
    lay["hygiene.conf_changed"] = float(hygiene.conf_changed)


# ---------------------------------------------------------------- mix


def analytics_mix(ctx) -> Outcome:
    from burst_db_spark.registry import all_queries

    outcome = Outcome()
    session, tracer = ctx.session, ctx.tracer
    data_dir = os.path.join(ctx.work, "data")
    datagen.write(data_dir, MIX_SF, MIX_DATA_SEED)
    for _ in range(SESSION_STARTS):
        outcome.setup_s.append(session.start())
    spark = session.spark
    specs = all_queries()
    rng = random.Random(ctx.seed)

    # first pass: collects every row for the output check, and pays the
    # code compilation, Python worker start and state-store set-up of a
    # fresh JVM before the timed passes, which a cold pass made twice as
    # noisy from run to run
    results = {}
    t0 = time.perf_counter()
    for row in rng.sample(MIX_ROWS, len(MIX_ROWS)):
        spark.catalog.clearCache()
        outcome.attempted += 1
        try:
            results[row] = specs[row].build(spark, data_dir).collect()
        except Exception:  # noqa: BLE001
            _log_failure(f"row {row}")
            outcome.fail(f"row {row} raised")
    warmup_s = time.perf_counter() - t0

    hygiene = Hygiene(spark, ctx.tmp_dir)
    watch = hygiene.watch if tracer.enabled else contextlib.nullcontext
    build_s: dict[str, list[float]] = {r: [] for r in MIX_ROWS}
    exec_s: dict[str, list[float]] = {r: [] for r in MIX_ROWS}
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(outcome.round_s) < MIN_PASSES:
        t_pass = time.perf_counter()
        with tracer.span("pass"):
            for row in rng.sample(MIX_ROWS, len(MIX_ROWS)):
                spark.catalog.clearCache()
                outcome.attempted += 1
                try:
                    with tracer.span(f"row.{row}"), watch():
                        t0 = time.perf_counter()
                        with tracer.span("build"):
                            df = specs[row].build(spark, data_dir)
                        t1 = time.perf_counter()
                        with tracer.span("exec"):
                            df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                except Exception:  # noqa: BLE001
                    _log_failure(f"row {row}")
                    outcome.fail(f"row {row} raised")
                    continue
                build_s[row].append(t1 - t0)
                exec_s[row].append(t2 - t1)
                outcome.op_ms.append((t2 - t0) * 1000)
        outcome.round_s.append(time.perf_counter() - t_pass)
    spark.catalog.clearCache()

    want = checks.oracle_digests(data_dir, {r: specs[r].oracle for r in results})
    for row, rows in results.items():
        if checks.row_digest(rows) != want[row]:
            outcome.fail(f"row {row}: result differs from its oracle")
    outcome.record.update(
        {
            "warmup_s": warmup_s,
            "passes": len(outcome.round_s),
            "row_s": {r: median([b + e for b, e in zip(build_s[r], exec_s[r])])
                      for r in MIX_ROWS},
        }
    )
    if tracer.enabled:
        fold_ = eventlog.fold(session.events(), tracer.spans)
        lay = outcome.layers
        lay["warmup_s"] = warmup_s
        for row in MIX_ROWS:
            lay[f"{row}.build_s"] = median(build_s[row])
            lay[f"{row}.exec_s"] = median(exec_s[row])
        for stratum, rows in STRATA.items():
            lay[f"family.{stratum}.s"] = sum(
                lay[f"{r}.build_s"] + lay[f"{r}.exec_s"] for r in rows
            )
        roots = tracer.ids("pass")
        lay.update(_spark_layers(fold_, roots, _span_wall_s(tracer, roots), ctx.cores))
        n_ops = len(outcome.op_ms)
        rows_jobs = eventlog.layers(fold_, tracer.ids("row."))["jobs"]
        lay["spark.jobs_per_request"] = rows_jobs / n_ops if n_ops else 0.0
        _hygiene_layers(lay, hygiene)
    return outcome


WORKLOADS = {"catalog": catalog, "analytics_mix": analytics_mix}


def _per_layer() -> dict[str, tuple[str, str]]:
    """Every per-layer metric of a traced run: name -> (unit, better).
    Each workload reports all of them; a layer it does not exercise
    reads 0, which is the prediction the other workload tests."""
    out = {f"{step}.s": ("s", "lower") for step in CATALOG_STEPS}
    out.update({f"{name}.s": ("s", "lower") for name in WRITER_SPANS})
    out["artifact_mb"] = ("MB", "lower")
    out.update({f"artifact.{k}.bytes": ("bytes", "lower") for k in ARTIFACTS})
    out["geo.udf_rows_per_frame"] = ("rows/frame", "lower")
    out["geo.intersect_candidates_per_hit"] = ("rows/hit", "lower")
    for kind in ("lookup", "intersect"):
        for part in ("read", "plan", "collect"):
            out[f"{kind}.{part}_ms"] = ("ms", "lower")
        out[f"{kind}.p50_ms"] = ("ms", "lower")
        out[f"{kind}.n"] = ("count", "higher")
    out["scan.files_per_request"] = ("files", "lower")
    out["warmup_s"] = ("s", "lower")
    for row in MIX_ROWS:
        out[f"{row}.build_s"] = ("s", "lower")
        out[f"{row}.exec_s"] = ("s", "lower")
    out.update({f"family.{s}.s": ("s", "lower") for s in STRATA})
    for name, unit, better in (
        ("spark.jobs", "count", "lower"),
        ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.tasks_per_stage_p50", "count", "lower"),
        ("spark.single_task_stage_share", "ratio", "lower"),
        ("spark.jobs_per_request", "count", "lower"),
        ("spark.executor_run_s", "s", "lower"),
        ("spark.cpu_efficiency", "ratio", "higher"),
        ("spark.gc_s", "s", "lower"),
        ("spark.driver_idle_share", "ratio", "lower"),
        ("spark.python_worker_s", "s", "lower"),
        ("spark.python_worker_start_ms", "ms", "lower"),
        ("spark.shuffle_write_mb", "MB", "lower"),
        ("spark.spill_mb", "MB", "lower"),
        ("state.commit_s", "s", "lower"),
        ("state.instances", "count", "lower"),
        ("session.peak_rss_mb", "MB", "lower"),
        ("hygiene.tmp_entries_leaked", "count", "lower"),
        ("hygiene.cached_blocks_left", "count", "lower"),
        ("hygiene.conf_changed", "count", "lower"),
        ("trace.round_s", "s", "lower"),
        ("trace.overhead_pct", "%", "lower"),
        ("trace.baseline_runs", "count", "higher"),
    ):
        out[name] = (unit, better)
    return out


PER_LAYER = _per_layer()
