"""Domain pipelines mirroring the reference's entry points (SURVEY.md §3):

- ``fixtures``        — deterministic synthetic burst/frame tables
- ``frame_db``        — EP1 `opera-db create`: dissolve → land runs → DP
                        frame partitioning → bridge + frames tables
- ``burst_catalog``   — EP2 `make-burst-catalog`: dedup → join → filter →
                        per-day min → blackout anti-join
- ``reference_dates`` — W5 stateful per-frame reference-date selection
                        (one array fold per frame, in the JVM)
- ``blackout``        — yearly interval-window generation
- ``query_frame``     — EP3 lookup / intersect interactive queries
"""
