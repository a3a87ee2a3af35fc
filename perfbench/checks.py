"""Output checks, run once per invocation outside the timed region.

Every reference answer here is computed without the program: DuckDB reads
the artifacts and the registry's oracle SQL, and a small geometry routine
below decides rectangle/polygon intersection.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import re
import sqlite3

import duckdb


def row_digest(rows) -> str:
    """Digest of a result as the external correctness gate compares it:
    per-cell ``str()``, rows sorted."""
    cells = sorted(tuple(str(v) for v in r) for r in rows)
    return hashlib.sha256(repr(cells).encode()).hexdigest()


# ---------------------------------------------------------------- mix rows


def oracle_digests(data_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                name = f[: -len(".parquet")]
                path = os.path.join(data_dir, f)
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        return {n: row_digest(con.execute(sql).fetchall()) for n, sql in oracles.items()}
    finally:
        con.close()


# ---------------------------------------------------------------- geometry

_NUM = r"-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"


def exterior_rings(wkt: str) -> list[list[tuple[float, float]]]:
    """Exterior ring of each polygon in a POLYGON/MULTIPOLYGON WKT."""
    rings = []
    for poly in re.findall(r"\(\(([^()]*)\)", wkt):
        pts = re.findall(rf"({_NUM})\s+({_NUM})", poly)
        rings.append([(float(x), float(y)) for x, y in pts])
    return rings


def _inside(x: float, y: float, ring) -> bool:
    hit = False
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        if (y1 > y) != (y2 > y) and x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
            hit = not hit
    return hit


def _cross(o, a, b) -> float:
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _segments_meet(p1, p2, p3, p4) -> bool:
    d1, d2 = _cross(p3, p4, p1), _cross(p3, p4, p2)
    d3, d4 = _cross(p1, p2, p3), _cross(p1, p2, p4)
    if ((d1 > 0) != (d2 > 0) or d1 == 0 or d2 == 0) and (
        (d3 > 0) != (d4 > 0) or d3 == 0 or d4 == 0
    ):
        # collinear cases need a bounding-box overlap test
        return (
            min(p1[0], p2[0]) <= max(p3[0], p4[0])
            and min(p3[0], p4[0]) <= max(p1[0], p2[0])
            and min(p1[1], p2[1]) <= max(p3[1], p4[1])
            and min(p3[1], p4[1]) <= max(p1[1], p2[1])
        )
    return False


def rect_hits_ring(bbox, ring) -> bool:
    xmin, ymin, xmax, ymax = bbox
    rect = [(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin)]
    if any(xmin <= x <= xmax and ymin <= y <= ymax for x, y in ring):
        return True
    if _inside(xmin, ymin, ring):
        return True
    return any(
        _segments_meet(a, b, c, d)
        for a, b in zip(ring, ring[1:])
        for c, d in zip(rect, rect[1:])
    )


# ---------------------------------------------------------------- catalog


class CatalogReference:
    """Reference answers and invariants over a built catalog directory."""

    def __init__(self, db: str):
        self.db = db
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW frames AS SELECT * FROM read_parquet('{db}/frames/*.parquet')"
        )
        self.con.execute(
            "CREATE VIEW bridge AS SELECT * FROM "
            f"read_parquet('{db}/frames_bursts/*.parquet')"
        )
        self.con.execute(
            "CREATE VIEW bursts AS SELECT * FROM "
            f"read_parquet('{db}/burst_id_map/*.parquet')"
        )
        self.geoms = [
            (fid, exterior_rings(w))
            for fid, w in self.con.execute(
                "SELECT frame_fid, geom_wkt FROM frames WHERE geom_wkt IS NOT NULL"
            ).fetchall()
        ]

    def close(self) -> None:
        self.con.close()

    def frame_ids(self) -> list[int]:
        return [r[0] for r in self.con.execute(
            "SELECT frame_fid FROM frames ORDER BY frame_fid").fetchall()]

    def frame_centres(self) -> list[tuple[float, float]]:
        """Centre of each frame's bounding box, in frame id order."""
        out = []
        for _, rings in sorted(self.geoms):
            xs = [x for r in rings for x, _ in r]
            ys = [y for r in rings for _, y in r]
            out.append(((min(xs) + max(xs)) / 2, (min(ys) + max(ys)) / 2))
        return out

    def lookup(self, fid: int) -> list[tuple]:
        return self.con.execute(
            """
            SELECT f.frame_fid, b.n_bursts, b.burst_ids
            FROM frames f JOIN (
                SELECT frame_fid, count(*) AS n_bursts,
                       string_agg(CAST(burst_id AS VARCHAR), ',' ORDER BY burst_id)
                           AS burst_ids
                FROM bridge WHERE frame_fid = ? GROUP BY frame_fid
            ) b USING (frame_fid)
            """,
            [fid],
        ).fetchall()

    def intersect(self, bbox) -> list[int]:
        return sorted(
            fid for fid, rings in self.geoms if any(rect_hits_ring(bbox, r) for r in rings)
        )

    def invariant_failures(self) -> list[str]:
        """EP1 structural invariants; returns the ones that do not hold."""
        c = self.con
        bad = []
        uncovered = c.execute(
            "SELECT count(*) FROM bursts WHERE is_land = 1 AND burst_id NOT IN "
            "(SELECT burst_id FROM bridge)"
        ).fetchone()[0]
        if uncovered:
            bad.append(f"{uncovered} land bursts in no frame")
        meta = c.execute(
            f"SELECT * FROM read_parquet('{self.db}/metadata/*.parquet')"
        ).fetchdf().iloc[0]
        hi = int(meta["max_frame"])
        # the DP caps every frame at max_frame bursts; a land run shorter
        # than min_frame becomes one short frame, so only the cap holds
        sizes = c.execute(
            "SELECT min(n), max(n) FROM (SELECT count(*) AS n FROM bridge "
            "GROUP BY frame_fid)"
        ).fetchone()
        if sizes[0] is None or sizes[1] > hi:
            bad.append(f"frame sizes {sizes} outside [1, {hi}]")
        n_frames = c.execute("SELECT count(*) FROM frames").fetchone()[0]
        n_geom = len(self.geoms)
        with sqlite3.connect(f"{self.db}/minimal.sqlite") as s:
            n_sqlite = s.execute("SELECT count(*) FROM frames").fetchone()[0]
        with sqlite3.connect(f"{self.db}/frames.gpkg") as s:
            n_gpkg = s.execute("SELECT count(*) FROM frames").fetchone()[0]
        with gzip.open(f"{self.db}/frame_to_burst.json.gz", "rt") as fh:
            n_env = len(json.load(fh)["data"])
        if not (n_frames == n_sqlite == n_env) or n_gpkg != n_geom:
            bad.append(
                f"counts differ: frames {n_frames}, sqlite {n_sqlite}, "
                f"envelope {n_env}, gpkg {n_gpkg} (frames with geometry {n_geom})"
            )
        return bad


def _canonical_json(doc, paths: dict[str, str]):
    if isinstance(doc, dict):
        return {
            k: _canonical_json(v, paths)
            for k, v in doc.items()
            if k != "generation_time"
        }
    if isinstance(doc, list):
        return [_canonical_json(v, paths) for v in doc]
    if isinstance(doc, str):
        for path, name in paths.items():
            doc = doc.replace(path, name)
        return doc
    return doc


def artifact_digest(db: str, out_dir: str, json_files: list[str]) -> str:
    """Digest of the catalog's content (the EP1 tables in ``db`` and the
    JSON documents the later steps wrote to ``out_dir``), independent of
    file layout, compression headers, generation time and location."""
    h = hashlib.sha256()
    con = duckdb.connect()
    try:
        for table in ("frames", "frames_bursts", "burst_id_map", "metadata"):
            rows = con.execute(f"SELECT * FROM read_parquet('{db}/{table}/*.parquet')")
            cols = [d[0] for d in rows.description]
            h.update(f"{table}{cols}{row_digest(rows.fetchall())}".encode())
    finally:
        con.close()
    for name in ("minimal.sqlite", "frames.gpkg"):
        with sqlite3.connect(os.path.join(db, name)) as s:
            rows = s.execute("SELECT * FROM frames").fetchall()
        h.update(f"{name}{row_digest(rows)}".encode())
    docs = {}
    for name in ("frame_to_burst.json.gz", "burst_to_frame.json.gz"):
        with gzip.open(os.path.join(db, name), "rt") as fh:
            docs[name] = json.load(fh)
    with open(os.path.join(db, "frames.geojson")) as fh:
        docs["frames.geojson"] = json.load(fh)
    for path in json_files:
        with open(path) as fh:
            docs[os.path.basename(path)] = json.load(fh)
    paths = {db: "<out>/db", out_dir: "<out>"}
    h.update(json.dumps(_canonical_json(docs, paths), sort_keys=True).encode())
    return h.hexdigest()
