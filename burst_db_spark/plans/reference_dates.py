"""W5 — reference-date selection: a stateful per-key scan whose emission
rule depends on how many references were already emitted
(reference_dates.py:105-157). It is not a fixed-frame window function,
so it runs as one fold per key: each key's sorted sensing times are
collected into an array and folded by a Spark ``aggregate`` higher-order
function whose state is ``(refs array<bigint>, group int)``, then
``posexplode``-ed back to rows (SURVEY.md §2.5 W5, §7.4.2). The whole
scan stays in the JVM: no Python worker starts.

Semantics (re-implemented from the reference's loop):
- the first sensing time is always a reference;
- walking forward, a new reference is emitted at time t when
  (t − first_ref).days ≥ len(refs) · interval_days  (interval stretches
  with every emission), or t falls on a per-frame event date —
  but only if ≥ ``min_acquisitions`` accumulated since the last
  reference; an event date without enough acquisitions *moves* the last
  reference to t instead (merge rule).

Times are folded as epoch microseconds and days are epoch days
(``floor(t / 1 day)``, so pre-1970 times floor like Python's ``//``);
in a UTC session these are the calendar days :func:`select_reference_dates`
sees. Per-key state is one frame's sensing times (≤ a few hundred) —
tiny; ~47k frames parallelize across executors.
"""

from __future__ import annotations

from datetime import date, datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

INTERVAL_DAYS = int(1.0 * 365.25)
MIN_ACQS = 15

_DAY_US = 86_400_000_000
_EPOCH = date(1970, 1, 1)


def select_reference_dates(
    times: list[datetime],
    event_dates: set | None = None,
    interval_days: int = INTERVAL_DAYS,
    min_acquisitions: int = MIN_ACQS,
) -> list[datetime]:
    """Pure-python core (unit-testable without Spark)."""
    events = event_dates or set()
    refs: list[datetime] = []
    group: list[datetime] = []
    emitted_groups = 0
    for t in sorted(times):
        if not refs:
            refs.append(t)
            group = [t]
            continue
        group.append(t)
        interval_passed = (t - refs[0]).days >= len(refs) * interval_days
        is_event = t.date() in events
        if interval_passed or is_event:
            if len(group) >= min_acquisitions:
                refs.append(t)
                emitted_groups += 1
                group = []
            elif is_event:
                if emitted_groups:
                    pass  # acquisitions merge into the previous group
                refs[-1] = t
                group = []
    return refs


def _scan_expr(interval_days: int, min_acquisitions: int) -> str:
    """The per-key state machine of :func:`select_reference_dates` as one
    SQL expression over ``__ts`` (sorted epoch micros) and
    ``__event_days`` (epoch days, or NULL); evaluates to the refs array."""
    is_event = f"coalesce(array_contains(__event_days, floor(t / {_DAY_US})), false)"
    return f"""
    aggregate(
        slice(__ts, 2, size(__ts)),
        named_struct('refs', slice(__ts, 1, 1), 'group', 1),
        (s, t) -> CASE
            WHEN ((t - s.refs[0]) div {_DAY_US} >= size(s.refs) * {interval_days}
                  OR {is_event})
                 AND s.group + 1 >= {min_acquisitions}
            THEN named_struct('refs', concat(s.refs, array(t)), 'group', 0)
            WHEN {is_event}
            THEN named_struct(
                'refs', concat(slice(s.refs, 1, size(s.refs) - 1), array(t)),
                'group', 0)
            ELSE named_struct('refs', s.refs, 'group', s.group + 1)
        END
    ).refs
    """


def _scan(
    acq: DataFrame,
    event_days: DataFrame | None,
    key: str,
    ts_col: str,
    interval_days: int,
    min_acquisitions: int,
    broadcast_events: bool,
) -> DataFrame:
    """(key, ref_idx, ref_date): one ``collect_list`` per key, the
    per-key ``(key, __event_days)`` frame left-joined on (keys with events
    but no acquisitions emit nothing), then the fold of
    :func:`_scan_expr` and a ``posexplode``."""
    per_key = acq.groupBy(key).agg(
        F.array_sort(
            F.collect_list(F.unix_micros(F.col(ts_col).cast("timestamp")))
        ).alias("__ts")
    )
    if event_days is None:
        per_key = per_key.withColumn(
            "__event_days", F.lit(None).cast("array<bigint>")
        )
    else:
        side = F.broadcast(event_days) if broadcast_events else event_days
        per_key = per_key.join(side, key, "left")
    refs = F.expr(_scan_expr(interval_days, min_acquisitions))
    return per_key.select(
        F.col(key).cast("int").alias(key),
        F.posexplode(refs).alias("pos", "__ref"),
    ).select(
        key,
        (F.col("pos") + 1).cast("int").alias("ref_idx"),
        F.timestamp_micros("__ref").alias("ref_date"),
    )


def reference_dates(
    acq: DataFrame,
    key: str = "frame_fid",
    ts_col: str = "sensing_time",
    event_dates_by_key: dict[int, list[str]] | None = None,
    interval_days: int = INTERVAL_DAYS,
    min_acquisitions: int = MIN_ACQS,
) -> DataFrame:
    """(key, ref_idx, ref_date) — one row per emitted reference.

    ``event_dates_by_key`` mirrors the reference's small hand-curated
    ``EVENT_DATES_BY_FRAME`` constant (reference_dates.py:110-112); it
    becomes a broadcast ``(key, __event_days)`` frame."""
    event_days = None
    if event_dates_by_key:
        rows = [
            (
                int(k),
                sorted(
                    {
                        (datetime.strptime(d, "%Y-%m-%d").date() - _EPOCH).days
                        for d in v
                    }
                ),
            )
            for k, v in event_dates_by_key.items()
        ]
        event_days = acq.sparkSession.createDataFrame(
            rows, f"{key} int, __event_days array<bigint>"
        )
    return _scan(
        acq, event_days, key, ts_col, interval_days, min_acquisitions,
        broadcast_events=True,
    )


def reference_dates_cogrouped(
    acq: DataFrame,
    events: DataFrame,
    key: str = "frame_fid",
    ts_col: str = "sensing_time",
    event_date_col: str = "event_date",
    interval_days: int = INTERVAL_DAYS,
    min_acquisitions: int = MIN_ACQS,
    broadcast_events: bool = False,
) -> DataFrame:
    """(key, ref_idx, ref_date) with per-key event dates as JOINABLE
    STATE: ``events`` is a (key, event_date) DataFrame reduced to one
    ``collect_set`` array of epoch days per key and joined to the
    acquisitions' per-key arrays, so event dates travel to the task that
    owns the key. The dict-parameter path in :func:`reference_dates`
    stays for parity with the reference; this is the generic 100 TB
    shape — a driver-built dict grows with the key count, a joined
    DataFrame does not.

    ``broadcast_events=True`` (VERDICT r11 #3): when the caller KNOWS
    the events side is broadcast-sized (e.g. a per-key aggregate of a
    dimension, bounded by key count × a small constant), the per-key
    event arrays are broadcast-joined instead of shuffled. The events
    frame is still never collected to the driver — the broadcast is
    Spark's, sized by the JOIN side."""
    event_days = events.groupBy(key).agg(
        F.collect_set(
            F.unix_date(F.col(event_date_col).cast("date")).cast("bigint")
        ).alias("__event_days")
    )
    return _scan(
        acq, event_days, key, ts_col, interval_days, min_acquisitions,
        broadcast_events,
    )
