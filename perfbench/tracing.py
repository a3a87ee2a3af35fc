"""Spans, writer wrappers, hygiene counters and memory sampling for the
traced run. Everything here observes the program from outside: it wraps
the program's public functions and reads ``/proc``; no program code
changes.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from collections.abc import Callable, Iterator

from eventlog import Span


class Tracer:
    """Records nested spans in memory; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time() * 1000, float("inf"), parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end_ms = time.time() * 1000

    def ids(self, prefix: str) -> set[int]:
        return {i for i, s in enumerate(self.spans) if s.name.startswith(prefix)}

    def seconds(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(
            (s.end_ms - s.start_ms) / 1000 for s in self.spans if s.name == name
        )


# write_parquet's output directory names the table it writes
_PARQUET_TABLES = {
    "frames": "frames",
    "frames_bursts": "bridge",
    "burst_id_map": "bursts",
}


def _parquet_span(args, kwargs) -> str:
    path = kwargs.get("path", args[1] if len(args) > 1 else "")
    base = os.path.basename(str(path).rstrip("/"))
    return f"sinks.write_parquet.{_PARQUET_TABLES.get(base, base)}"


@contextlib.contextmanager
def wrap_writers(tracer: Tracer) -> Iterator[None]:
    """Open a span around each artifact writer the catalog pipeline calls.

    ``create_pipeline`` imports the writers by name, so they are wrapped
    where it looks them up; ``__main__`` imports ``write_envelope`` from
    its module at call time, so that module attribute is wrapped too.
    """
    from burst_db_spark.plans import create_pipeline
    from burst_db_spark.sources import json_docs

    def wrap(fn: Callable, span: str | Callable) -> Callable:
        def wrapper(*args, **kwargs):
            with tracer.span(span(args, kwargs) if callable(span) else span):
                return fn(*args, **kwargs)

        return wrapper

    fixed = {
        "write_envelope": "sources.json_docs.write_envelope",
        "write_geojson": "sources.geojson.write_geojson",
        "write_sqlite": "sinks.write_sqlite",
        "write_gpkg": "sources.gpkg.write_gpkg",
        "write_metadata_table": "sinks.write_metadata_table",
    }
    patches = [
        (create_pipeline, "write_parquet", _parquet_span),
        *((create_pipeline, attr, span) for attr, span in fixed.items()),
        (json_docs, "write_envelope", fixed["write_envelope"]),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    for mod, attr, span in patches:
        setattr(mod, attr, wrap(getattr(mod, attr), span))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (JVM, Python workers, daemons)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak resident memory of this process plus all its descendants."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


class Hygiene:
    """What a unit of work leaves behind, measured from outside after it:
    new entries in the temp directory, cached RDD blocks, and session
    conf keys added, removed or changed."""

    def __init__(self, spark, tmp_dir: str):
        self.spark = spark
        self.tmp_dir = tmp_dir
        self.tmp_entries_leaked = 0
        self.cached_blocks_left = 0
        self.conf_changed = 0

    def _conf(self) -> dict[str, str]:
        return dict(self.spark.conf.getAll)

    @contextlib.contextmanager
    def watch(self) -> Iterator[None]:
        tmp_before = set(os.listdir(self.tmp_dir))
        conf_before = self._conf()
        yield
        self.tmp_entries_leaked += len(set(os.listdir(self.tmp_dir)) - tmp_before)
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.cached_blocks_left += sum(i.numCachedPartitions() for i in infos)
        conf_after = self._conf()
        self.conf_changed += sum(
            1
            for k in conf_before.keys() | conf_after.keys()
            if conf_before.get(k) != conf_after.get(k)
        )
