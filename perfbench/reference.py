"""Independent reference answers the benchmark checks the engine against.

Nothing here calls the engine's geometry or merge code:

- ``assign``: brute-force point-in-multipolygon by an integer ray cast
  (even-odd over every ring, a point on an edge counts as inside) plus a
  point-to-segment distance test for the buffer, looping over edges and
  vectorised over points. Distances are float64; any point whose float
  distance lies within one unit of the buffer is re-decided in exact
  integer arithmetic.
- ``DuckReplay``: the store and the per-state tile counts, replayed in
  DuckDB from the generator's own record of each state's changes.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

from osm_replication_rust_spark.functions.geometry import MultiPolygon

SIG_MOD = 2_147_483_647


def _edges(mp: MultiPolygon):
    for ring in mp.rings:
        c = ring.coords
        if (c[0] != c[-1]).any():
            c = np.vstack([c, c[:1]])
        for (x1, y1), (x2, y2) in zip(c[:-1].tolist(), c[1:].tolist()):
            yield x1, y1, x2, y2


def _seg_within(px: int, py: int, e: tuple[int, int, int, int], b: int) -> bool:
    """Exact: distance from (px, py) to segment e is at most b."""
    x1, y1, x2, y2 = e
    dx, dy = x2 - x1, y2 - y1
    ax, ay = px - x1, py - y1
    dot = ax * dx + ay * dy
    len2 = dx * dx + dy * dy
    if dot <= 0 or len2 == 0:
        return ax * ax + ay * ay <= b * b
    if dot >= len2:
        bx, by = px - x2, py - y2
        return bx * bx + by * by <= b * b
    cross = dx * ay - dy * ax
    return cross * cross <= b * b * len2


def region_membership(lon: np.ndarray, lat: np.ndarray, mp: MultiPolygon, buffer: int):
    """(in_poly, in_buffer) boolean arrays for every point against one region."""
    lon = np.asarray(lon, dtype=np.int64)
    lat = np.asarray(lat, dtype=np.int64)
    n = lon.shape[0]
    crossings = np.zeros(n, dtype=np.int64)
    on_edge = np.zeros(n, dtype=bool)
    dmin = np.full(n, np.inf)
    edges = list(_edges(mp))
    fx, fy = lon.astype(np.float64), lat.astype(np.float64)
    for x1, y1, x2, y2 in edges:
        # ray to +x: counts edges with one end strictly above py and the
        # other at or below, whose crossing x lies strictly right of px
        up = (y1 > lat) != (y2 > lat)
        if y2 != y1:
            # x_cross > px  <=>  (x1 - px)(y2 - y1) + (py - y1)(x2 - x1) has the sign of (y2 - y1)
            num = (x1 - lon) * (y2 - y1) + (lat - y1) * (x2 - x1)
            right = num > 0 if y2 > y1 else num < 0
            crossings += up & right
        cross = (x2 - x1) * (lat - y1) - (y2 - y1) * (lon - x1)
        on_edge |= (
            (cross == 0)
            & (lon >= min(x1, x2)) & (lon <= max(x1, x2))
            & (lat >= min(y1, y2)) & (lat <= max(y1, y2))
        )
        dx, dy = float(x2 - x1), float(y2 - y1)
        len2 = dx * dx + dy * dy
        if len2 == 0:
            t = np.zeros(n)
        else:
            t = np.clip(((fx - x1) * dx + (fy - y1) * dy) / len2, 0.0, 1.0)
        d = np.hypot(fx - (x1 + t * dx), fy - (y1 + t * dy))
        np.minimum(dmin, d, out=dmin)
    in_poly = (crossings % 2 == 1) | on_edge
    in_buf = in_poly | (dmin <= buffer)
    for i in np.nonzero(~in_poly & (np.abs(dmin - buffer) <= 1.0))[0]:
        px, py = int(lon[i]), int(lat[i])
        in_buf[i] = any(_seg_within(px, py, e, buffer) for e in edges)
    return in_poly, in_buf


def assign(ids, lon, lat, regions: list[MultiPolygon], buffer: int) -> list[tuple[int, str, bool]]:
    """Every (id, region_id, in_poly) whose point lies in the region's
    buffered polygon."""
    ids = np.asarray(ids, dtype=np.int64)
    lon = np.asarray(lon, dtype=np.int64)
    lat = np.asarray(lat, dtype=np.int64)
    out = []
    for mp in regions:
        allc = np.vstack([r.coords for r in mp.rings])
        near = (
            (lon >= allc[:, 0].min() - buffer) & (lon <= allc[:, 0].max() + buffer)
            & (lat >= allc[:, 1].min() - buffer) & (lat <= allc[:, 1].max() + buffer)
        )
        idx = np.nonzero(near)[0]
        if not idx.size:
            continue
        in_poly, in_buf = region_membership(lon[idx], lat[idx], mp, buffer)
        for i, p in zip(idx[in_buf], in_poly[in_buf]):
            out.append((int(ids[i]), mp.region_id, bool(p)))
    return out


def row_sig(image_id: int, region_id: str, in_poly: bool) -> int:
    """Per output row value whose sum over a sample the benchmark
    compares; mirrored by the Spark expression in ``workloads``."""
    crc = zlib.crc32(region_id.encode())
    return ((image_id % 1_000_003) * 1_000_033 + crc % 1_000_003) % SIG_MOD * (2 if in_poly else 1)


def frame_hash(df: pd.DataFrame) -> int:
    """Order-independent hash of a frame's rows."""
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return int(h.sum(dtype=np.uint64))


def _changes_frame(changes: dict) -> pd.DataFrame:
    # nullable Int64: coordinates must stay exact integers through SQL
    return pd.DataFrame({
        "action": changes["action"],
        "node_id": pd.array(changes["node_id"], dtype="Int64"),
        "lat": pd.array(changes["lat"], dtype="Int64"),
        "lon": pd.array(changes["lon"], dtype="Int64"),
        "caption": pd.array(changes["caption"], dtype="string"),
    })


class DuckReplay:
    """The point store replayed in DuckDB: last-writer-wins upserts and
    deletes keyed on image_id; captions and footprints of a change
    override the stored ones only when present."""

    def __init__(self, base: dict[str, np.ndarray]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")
        pdf = pd.DataFrame(base)
        self.con.register("base_pdf", pdf)
        self.con.execute(
            "CREATE TABLE store AS SELECT image_id::VARCHAR AS image_id, "
            "caption::VARCHAR AS caption, phash::BIGINT AS phash FROM base_pdf"
        )
        self.con.unregister("base_pdf")

    def effective_points(self, changes: dict) -> pd.DataFrame:
        """(node_id, lon, lat) each change is classified at: its new
        position, or for a delete the stored one."""
        from osm_replication_rust_spark.functions.coords import (
            LAT_OFFSET, LON_OFFSET, PHASH_LON_BASE)

        ch = _changes_frame(changes)
        self.con.register("ch", ch)
        eff = self.con.execute(
            f"""
            SELECT c.node_id,
                   coalesce(c.lon, s.phash % {PHASH_LON_BASE} - {LON_OFFSET}) AS lon,
                   coalesce(c.lat, s.phash // {PHASH_LON_BASE} - {LAT_OFFSET}) AS lat
            FROM ch c LEFT JOIN store s ON s.image_id = 'n' || c.node_id::VARCHAR
            WHERE c.lat IS NOT NULL OR s.phash IS NOT NULL
            """
        ).df()
        self.con.unregister("ch")
        return eff

    def apply(self, changes: dict) -> None:
        from osm_replication_rust_spark.functions.coords import (
            LAT_OFFSET, LON_OFFSET, PHASH_LON_BASE)

        ch = _changes_frame(changes)
        self.con.register("ch", ch)
        self.con.execute(
            f"""
            CREATE OR REPLACE TABLE store AS
            SELECT s.* FROM store s
            WHERE s.image_id NOT IN (SELECT 'n' || node_id::VARCHAR FROM ch)
            UNION ALL
            SELECT 'n' || c.node_id::VARCHAR,
                   coalesce(c.caption, s.caption),
                   coalesce(({LAT_OFFSET} + c.lat) * {PHASH_LON_BASE} + ({LON_OFFSET} + c.lon), s.phash)
            FROM ch c LEFT JOIN store s ON s.image_id = 'n' || c.node_id::VARCHAR
            WHERE c.action <> 'delete'
            """
        )
        self.con.unregister("ch")

    def store_frame(self) -> pd.DataFrame:
        return self.con.execute("SELECT image_id, caption, phash FROM store").df()

    def close(self) -> None:
        self.con.close()
