"""Seeded input generators. Everything the engine receives in a run is
made here from ``--seed``: point tables, region polygons and the
``.osc.gz`` replication states. The same seed gives the same bytes.

Coordinates are decimicro degrees (degrees * 1e7), the engine's unit.
"""

from __future__ import annotations

import gzip
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from osm_replication_rust_spark.functions.geometry import MultiPolygon, Ring

DEG = 10_000_000  # one degree in decimicro


# -- points ------------------------------------------------------------------


def points(seed: int, n: int, bounds: tuple[int, int, int, int]) -> dict[str, np.ndarray]:
    """``n`` points uniform over ``bounds`` = (minlon, minlat, maxlon, maxlat),
    ids 0..n-1."""
    rng = np.random.default_rng([seed, 1])
    x0, y0, x1, y1 = bounds
    return {
        "image_id": np.arange(n, dtype=np.int64),
        "lon": rng.integers(x0, x1 + 1, size=n, dtype=np.int64),
        "lat": rng.integers(y0, y1 + 1, size=n, dtype=np.int64),
    }


#: parquet files per point table, so that even a small table is read by
#: several tasks
POINT_FILES = 8


def write_points(cols: dict[str, np.ndarray], path: str) -> None:
    """The table as a directory of ``POINT_FILES`` parquet files."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(cols)
    step = -(-table.num_rows // POINT_FILES)
    for k in range(POINT_FILES):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


POINT_SCHEMA = pa.schema([("image_id", pa.string()), ("caption", pa.string()), ("phash", pa.int64())])
MEMBER = pa.struct([("ref", pa.string()), ("type", pa.string()), ("role", pa.string())])
GROUP_SCHEMA = pa.schema([("group_id", pa.string()), ("kind", pa.string()), ("members", pa.list_(MEMBER))])


def write_table(cols, schema: pa.Schema, path: str) -> None:
    """Columns (a dict of arrays, or a list of row dicts) as one parquet file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if isinstance(cols, list):
        table = pa.Table.from_pylist(cols, schema=schema)
    else:
        table = pa.table({f.name: pa.array(cols[f.name], type=f.type) for f in schema}, schema=schema)
    pq.write_table(table, path)


# -- polygons ------------------------------------------------------------------


def _star(rng, cx: float, cy: float, r: float, n: int, inner: float = 0.65) -> np.ndarray:
    """Irregular star-shaped ring: ``n`` vertices at strictly increasing
    angles, radius drawn from [inner*r, r]. Star-shaped with increasing
    angles means the ring never crosses itself."""
    step = 2 * np.pi / n
    ang = np.arange(n) * step + rng.uniform(0.05, 0.95, size=n) * step
    rad = r * rng.uniform(inner, 1.0, size=n)
    xs = np.round(cx + rad * np.cos(ang)).astype(np.int64)
    ys = np.round(cy + rad * np.sin(ang)).astype(np.int64)
    ring = np.stack([xs, ys], axis=1)
    return np.vstack([ring, ring[:1]])


#: polygon hierarchy shape: vertices per level (root, child, leaf)
VERTS = (512, 384, 256)
HOLE_VERTS = 64
ISLAND_VERTS = 64
ROOT_CELL = 5 * DEG  # roots sit on a 2x2 grid of 5-degree cells
POLY_BOUNDS = (0, 0, 2 * ROOT_CELL, 2 * ROOT_CELL)


def polygon_hierarchy(seed: int) -> list[MultiPolygon]:
    """Three levels: 4 roots, 3 children each, 2 leaves per child (40
    regions). Every child lies inside its parent's inner disk and
    siblings are disjoint, so the containment the filter cascade relies
    on holds. Roots with an even index carry a second ring (an island in
    a corner of their cell); every other leaf has a hole."""
    rng = np.random.default_rng([seed, 2])
    out: list[MultiPolygon] = []
    for gi in range(4):
        cx = (gi % 2 + 0.5) * ROOT_CELL
        cy = (gi // 2 + 0.5) * ROOT_CELL
        r_root = 0.44 * ROOT_CELL
        rid = f"R{gi}"
        rings = [Ring(_star(rng, cx, cy, r_root, VERTS[0]))]
        if gi % 2 == 0:
            d = 0.62 * ROOT_CELL
            rings.append(Ring(_star(rng, cx + d, cy + d, 0.06 * ROOT_CELL, ISLAND_VERTS)))
        out.append(MultiPolygon(rid, rings))
        for ci in range(3):
            a = 2 * np.pi * ci / 3 + rng.uniform(0, 0.3)
            kx = cx + 0.35 * r_root * np.cos(a)
            ky = cy + 0.35 * r_root * np.sin(a)
            r_child = 0.25 * r_root
            cid = f"{rid}/C{ci}"
            out.append(MultiPolygon(cid, [Ring(_star(rng, kx, ky, r_child, VERTS[1]))], parent_id=rid))
            for li in range(2):
                b = np.pi * li + rng.uniform(0, 0.3)
                lx = kx + 0.35 * r_child * np.cos(b)
                ly = ky + 0.35 * r_child * np.sin(b)
                r_leaf = 0.25 * r_child
                rings = [Ring(_star(rng, lx, ly, r_leaf, VERTS[2]))]
                if li == 1:
                    rings.append(Ring(_star(rng, lx, ly, 0.3 * r_leaf, HOLE_VERTS), hole=True))
                out.append(MultiPolygon(f"{cid}/L{li}", rings, parent_id=cid))
    return out


# -- replication states ------------------------------------------------------


class Osm:
    """A seeded OSM-shaped dataset: a base store of nodes, ways and
    relations, and a stream of minutely states mutating it.

    Ids are OSM integers; the engine sees them namespaced n/w/r as the
    CLI converts them. ``live`` tracks which nodes exist so that no
    state modifies or deletes a node an earlier state deleted."""

    def __init__(self, seed: int, n_nodes: int, n_ways: int, n_relations: int,
                 bounds: tuple[int, int, int, int]):
        self.rng = np.random.default_rng([seed, 3])
        self.bounds = bounds
        pts = points(seed, n_nodes, bounds)
        self.node_ids = pts["image_id"] + 1
        self.lat = pts["lat"]
        self.lon = pts["lon"]
        self.live = np.ones(n_nodes, dtype=bool)
        self.next_node = n_nodes + 1
        self.n_ways = n_ways
        self.n_relations = n_relations
        self.next_way = n_ways + 1

    # base tables -----------------------------------------------------------

    def base_points(self) -> dict[str, np.ndarray]:
        """Store rows: image_id, caption (null), phash (packed footprint)."""
        from osm_replication_rust_spark.functions.coords import (
            LAT_OFFSET, LON_OFFSET, PHASH_LON_BASE)

        return {
            "image_id": np.char.add("n", self.node_ids.astype(str)).astype(object),
            "caption": np.full(len(self.node_ids), None, dtype=object),
            "phash": (self.lat + LAT_OFFSET) * PHASH_LON_BASE + (self.lon + LON_OFFSET),
        }

    def _way_members(self, rng, k: int) -> list[dict]:
        # k consecutive node ids from a random start
        start = int(rng.integers(0, len(self.node_ids) - k))
        return [{"ref": f"n{int(i)}", "type": "image", "role": ""}
                for i in self.node_ids[start:start + k]]

    def base_groups(self) -> list[dict]:
        """Ways of 2-12 nodes; relations of 1-4 ways plus a node, and
        relation chains two deep (every even relation i refers to i-1)."""
        rng = np.random.default_rng([int(self.rng.integers(1 << 31)), 4])
        rows = []
        for w in range(1, self.n_ways + 1):
            rows.append({"group_id": f"w{w}", "kind": "way",
                         "members": self._way_members(rng, int(rng.integers(2, 13)))})
        for r in range(1, self.n_relations + 1):
            members = [{"ref": f"w{int(w)}", "type": "group", "role": "outer"}
                       for w in rng.integers(1, self.n_ways + 1, size=int(rng.integers(1, 5)))]
            members.append({"ref": f"n{int(rng.choice(self.node_ids))}", "type": "image",
                            "role": "label"})
            if r % 2 == 0:
                members.append({"ref": f"r{r - 1}", "type": "group", "role": "subarea"})
            rows.append({"group_id": f"r{r}", "kind": "relation", "members": members})
        return rows

    # states ----------------------------------------------------------------

    def state_xml(self, state: int, n_nodes: int, n_groups: int) -> tuple[bytes, dict]:
        """One minutely osmChange: ``n_nodes`` node changes (1/8 create,
        1/8 delete, the rest modify; a tenth of modifies jump to a random
        spot, so some cross region boundaries) and ``n_groups`` way and
        relation changes. Each node appears once per state. Returns the
        XML and the node changes as plain numbers."""
        rng = self.rng
        live_idx = np.nonzero(self.live)[0]
        n_create = n_nodes // 8
        n_delete = n_nodes // 8
        n_modify = n_nodes - n_create - n_delete
        picked = rng.choice(live_idx, size=n_modify + n_delete, replace=False)
        mod_idx, del_idx = picked[:n_modify], picked[n_modify:]
        x0, y0, x1, y1 = self.bounds

        jump = rng.random(n_modify) < 0.1
        d = 100_000  # 0.01 degree nudge
        new_lon = np.where(jump, rng.integers(x0, x1 + 1, size=n_modify),
                           np.clip(self.lon[mod_idx] + rng.integers(-d, d + 1, size=n_modify), x0, x1))
        new_lat = np.where(jump, rng.integers(y0, y1 + 1, size=n_modify),
                           np.clip(self.lat[mod_idx] + rng.integers(-d, d + 1, size=n_modify), y0, y1))
        cr_lon = rng.integers(x0, x1 + 1, size=n_create)
        cr_lat = rng.integers(y0, y1 + 1, size=n_create)
        captions = rng.random(n_create + n_modify) < 0.25

        ts = f"2026-01-01T00:{state % 60:02d}:00Z"
        meta = f'version="{state + 1}" timestamp="{ts}" uid="7" user="bench" changeset="{state}"'
        out = ['<?xml version="1.0" encoding="UTF-8"?>', '<osmChange version="0.6">']

        def node(nid, lat, lon, cap):
            head = f'<node id="{nid}" {meta} lat="{lat / DEG:.7f}" lon="{lon / DEG:.7f}"'
            if cap:
                return head + f'><tag k="caption" v="c{nid}s{state}"/></node>'
            return head + "/>"

        out.append("<create>")
        new_ids = np.arange(self.next_node, self.next_node + n_create)
        for k, nid in enumerate(new_ids):
            out.append(node(int(nid), int(cr_lat[k]), int(cr_lon[k]), captions[k]))
        n_new_ways = n_groups // 8
        for w in range(self.next_way, self.next_way + n_new_ways):
            out.append(self._way_xml(w, meta, self._way_members(rng, int(rng.integers(2, 13)))))
        out.append("</create>")

        out.append("<modify>")
        for k, i in enumerate(mod_idx):
            out.append(node(int(self.node_ids[i]), int(new_lat[k]), int(new_lon[k]),
                            captions[n_create + k]))
        n_mod_rel = n_groups // 4
        n_mod_way = n_groups - n_new_ways - n_mod_rel - n_groups // 8
        for w in rng.choice(self.n_ways, size=n_mod_way, replace=False) + 1:
            out.append(self._way_xml(int(w), meta, self._way_members(rng, int(rng.integers(2, 13)))))
        # at most one relation of each chain per state, so every state
        # resolves relation chains to the same depth
        chains = rng.choice(self.n_relations // 2, size=n_mod_rel, replace=False)
        for r in 2 * chains + rng.integers(1, 3, size=n_mod_rel):
            ways = rng.integers(1, self.n_ways + 1, size=int(rng.integers(1, 5)))
            mem = "".join(f'<member type="way" ref="{int(w)}" role="outer"/>' for w in ways)
            if r % 2 == 0:
                mem += f'<member type="relation" ref="{int(r) - 1}" role="subarea"/>'
            out.append(f'<relation id="{int(r)}" {meta}>{mem}</relation>')
        out.append("</modify>")

        out.append("<delete>")
        for i in del_idx:
            out.append(f'<node id="{int(self.node_ids[i])}" {meta}/>')
        for w in rng.choice(self.n_ways, size=n_groups // 8, replace=False) + 1:
            out.append(f'<way id="{int(w)}" {meta}/>')
        out.append("</delete>")
        out.append("</osmChange>")

        # the same changes as numbers, for the reference replay
        cap = lambda nid, k: f"c{nid}s{state}" if captions[k] else None  # noqa: E731
        changes = {
            "action": ["create"] * n_create + ["modify"] * n_modify + ["delete"] * n_delete,
            "node_id": [int(i) for i in new_ids]
            + [int(self.node_ids[i]) for i in mod_idx]
            + [int(self.node_ids[i]) for i in del_idx],
            "lat": [int(v) for v in cr_lat] + [int(v) for v in new_lat] + [None] * n_delete,
            "lon": [int(v) for v in cr_lon] + [int(v) for v in new_lon] + [None] * n_delete,
            "caption": [cap(int(nid), k) for k, nid in enumerate(new_ids)]
            + [cap(int(self.node_ids[i]), n_create + k) for k, i in enumerate(mod_idx)]
            + [None] * n_delete,
        }

        # advance the model
        self.lon[mod_idx] = new_lon
        self.lat[mod_idx] = new_lat
        self.live[del_idx] = False
        self.node_ids = np.concatenate([self.node_ids, new_ids])
        self.lon = np.concatenate([self.lon, cr_lon])
        self.lat = np.concatenate([self.lat, cr_lat])
        self.live = np.concatenate([self.live, np.ones(n_create, dtype=bool)])
        self.next_node += n_create
        self.next_way += n_new_ways
        return ("\n".join(out) + "\n").encode(), changes

    @staticmethod
    def _way_xml(w: int, meta: str, members: list[dict]) -> str:
        nds = "".join(f'<nd ref="{m["ref"][1:]}"/>' for m in members)
        return f'<way id="{w}" {meta}>{nds}</way>'


def state_path(root: str, state: int) -> str:
    """The replication tree layout AAA/BBB/CCC.osc.gz."""
    s = f"{state:09d}"
    return os.path.join(root, s[:3], s[3:6], s[6:] + ".osc.gz")


def write_state(root: str, state: int, xml: bytes) -> str:
    path = state_path(root, state)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        # mtime=0: the same seed gives byte-identical files
        f.write(gzip.compress(xml, compresslevel=6, mtime=0))
    return path
