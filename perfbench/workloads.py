"""The three workloads. Each runs *units* in a closed loop with one
client: a tiling pass over the whole point table, or one replication
state. The first ``min_units`` units form the fixed catch-up whose wall
time is ``replay_s``; after them, units continue until ``--seconds``
have passed since the first (cold) unit ended.

The first unit warms the JVM and the Python workers up, so the per-unit
figures are medians over the units after it: five tiling passes (the
first of them is still a little slower than the rest, which the median
absorbs) or two replication states.

In a traced run (``--trace 1``) the warm-up unit is untraced and the
rest alternate traced, untraced, traced, ... A traced unit calls
the same engine functions in the same order as an untraced one, wraps
them in spans, and forces each layer's output at its boundary. The
forced side-jobs are timed on their own; what a traced unit costs
beyond them and beyond an untraced unit is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
import reference
from spans import Tracer, force

from osm_replication_rust_spark.datagen.synth import fixture_regions
from osm_replication_rust_spark.functions import geometry
from osm_replication_rust_spark.functions.coords import (
    DEFAULT_RES, LAT_OFFSET, LON_OFFSET, Y_STRIDE, cell_edge, cell_id)
from osm_replication_rust_spark.functions.geometry import BUFFER_DECIMICRO
from osm_replication_rust_spark.operators import spatial_join
from osm_replication_rust_spark.operators.cells import cover_rows
from osm_replication_rust_spark.operators.merge import TableStore
from osm_replication_rust_spark.operators.spatial_join import assign_regions
from osm_replication_rust_spark.plans import pipeline
from osm_replication_rust_spark.sources.osc import elements_to_engine, read_osc_elements_dir

BUFFER = BUFFER_DECIMICRO
#: the fixture regions' neighbourhood, +-2.2 degrees, as the repository's
#: own tiling loads (``bench.synthetic_points``, ``datagen.synth``) use
FIXTURE_BOUNDS = (-22_000_000, -22_000_000, 22_000_000, 22_000_000)
#: seeded boundary sample the driver-side kernel rates are timed on
KERNEL_SAMPLE = 20_000


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tree_inodes(path: str) -> dict[tuple[int, int], tuple[str, int]]:
    """(dev, inode) -> (path relative to ``path``, size) of every regular
    file under ``path``; a hard-linked file appears once."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            st = os.lstat(os.path.join(d, f))
            out.setdefault((st.st_dev, st.st_ino), (os.path.relpath(os.path.join(d, f), path), st.st_size))
    return out


def tree_bytes(path: str) -> int:
    return sum(size for _, size in _tree_inodes(path).values())


class Workload:
    warmup_units = 1
    #: the catch-up: the warm-up unit, then the warm units the medians
    #: are taken over
    min_units = warmup_units + 5
    #: units a traced run makes at least, so that it has traced and
    #: untraced warm units to compare
    trace_units = min_units
    setup_reps = 2

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = Tracer(spark.sparkContext)
        self.attempted = 0
        self.failed = 0
        self.units: list[dict] = []

    def setup(self, rep: int) -> float:
        raise NotImplementedError

    def run_unit(self, i: int, traced: bool) -> dict | None:
        """Run unit ``i``; None when the inputs hold no further unit."""
        raise NotImplementedError

    def finish(self) -> None:
        """Checks that need the whole run."""

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def loop(self, seconds: float, trace: bool) -> None:
        least = self.trace_units if trace else self.min_units
        warm_from = None
        i = 0
        while i < least or time.perf_counter() - warm_from < seconds:
            traced = trace and i >= self.warmup_units and (i - self.warmup_units) % 2 == 0
            self.tracer.unit = i
            u = self.run_unit(i, traced)
            if u is None:  # no input left for another unit
                break
            u.update(index=i, traced=traced)
            self.units.append(u)
            i += 1
            if u.get("fatal"):
                break
            if warm_from is None:
                warm_from = time.perf_counter()

    # -- figures -------------------------------------------------------------

    def end_to_end(self, setup_s: float, rss_mb: float) -> dict:
        done = [u for u in self.units if "time" in u]
        first = done[: self.min_units]
        warm = done[self.warmup_units:]
        return {
            "setup_s": (setup_s, "s"),
            "points_per_s": (_median([u["points"] / u["time"] for u in warm]), "1/s"),
            "state_commit_s": (_median([u["time"] for u in warm]), "s"),
            "replay_s": (sum(u["time"] for u in first), "s"),
            "store_mb": (self.store_mb(), "MB"),
            "ok_frac": (1.0 - self.failed / max(self.attempted, 1), "frac"),
            "peak_rss_mb": (rss_mb, "MB"),
        }

    def trace_cost(self) -> tuple[float, float]:
        """(forced side-job time, remaining tracing overhead) of a traced
        warm unit, each as a share of the median untraced warm unit."""
        warm = [u for u in self.units[self.warmup_units:] if "time" in u]
        plain = _median([u["time"] for u in warm if not u["traced"]])
        traced = [(u["time"], self.tracer.forced_s(u["index"])) for u in warm if u["traced"]]
        if not plain or not traced:
            return 0.0, 0.0
        forced = _median([f for _, f in traced])
        return forced / plain, _median([t - f for t, f in traced]) / plain - 1.0

    def traced_units(self) -> set[int]:
        return {u["index"] for u in self.units if u["traced"]}

    def kernel_rates(self, regions) -> tuple[float, float]:
        """Single-core rows/s of the exact point-in-polygon and buffered
        kernels on a seeded sample of points in boundary cells."""
        rng = np.random.default_rng([self.seed, 9])
        rows = [r for r in cover_rows(regions, DEFAULT_RES, BUFFER) if not r["full"]]
        pick = rng.integers(0, len(rows), size=KERNEL_SAMPLE)
        cells = np.array([rows[k]["cell"] for k in pick], dtype=np.int64)
        rid = np.array([rows[k]["region_id"] for k in pick])
        edge = cell_edge(DEFAULT_RES)
        lon = (cells % Y_STRIDE) * edge - LON_OFFSET + rng.integers(0, edge, size=len(cells))
        lat = (cells // Y_STRIDE) * edge - LAT_OFFSET + rng.integers(0, edge, size=len(cells))
        by_id = {mp.region_id: mp for mp in regions}
        groups = [(by_id[r], np.nonzero(rid == r)[0]) for r in np.unique(rid)]

        def rate(name, kernel):
            # repeat the sample until a quarter second has passed
            with self.tracer.span(name) as sp:
                reps = 0
                while reps == 0 or time.perf_counter() - sp["start"] < 0.25:
                    for mp, ii in groups:
                        kernel(lon[ii], lat[ii], mp)
                    reps += 1
                sp["counts"]["rows"] = reps * len(cells)
            return sp["counts"]["rows"] / self.tracer.duration(sp)

        return (
            rate("geometry.pip", geometry.points_in_polygon),
            rate("geometry.buffer", lambda x, y, mp: geometry.points_in_buffered_polygon(x, y, mp, BUFFER)),
        )

    def cover_patch(self):
        """cells.cover span around every cover computation the spatial
        join makes, with the cover's size and partial share."""

        def counts(sp, rows, _args):
            sp["counts"]["rows"] = len(rows)
            sp["counts"]["partial"] = sum(1 for r in rows if not r["full"])

        return (spatial_join, "cover_rows", self.tracer.wrap("cells.cover", spatial_join.cover_rows, counts))

    def cover_layers(self) -> dict:
        tr = self.tracer
        sps = tr.by_name("cells.cover")
        return {
            "cells.cover_s": (tr.median("cells.cover", tr.duration), "s"),
            "cells.cover_rows": (_median([s["counts"]["rows"] for s in sps]), "count"),
            "cells.partial_frac": (
                _median([s["counts"]["partial"] / max(s["counts"]["rows"], 1) for s in sps]), "frac"),
        }


# -- tiling ------------------------------------------------------------------------


class Tile(Workload):
    """assign_regions over a generated point table, to the noop sink.
    Every pass is checked on a seeded sample of its output rows against
    the brute-force reference."""

    def __init__(self, spark, seed, work, polygons: bool):
        super().__init__(spark, seed, work)
        self.polygons = polygons
        self.n = 150_000 if polygons else 1_000_000
        # ~2000 sampled points either way
        self.sample_mod = 73 if polygons else 503
        self.sample_rem = seed % self.sample_mod
        self.path = os.path.join(work, "points.parquet")
        self.expected = None
        self.first_rows = None

    def setup(self, rep: int) -> float:
        t = time.perf_counter()
        if self.polygons:
            self.regions = gen.polygon_hierarchy(self.seed)
            bounds = gen.POLY_BOUNDS
        else:
            self.regions = fixture_regions()
            bounds = FIXTURE_BOUNDS
        self.cols = gen.points(self.seed, self.n, bounds)
        gen.write_points(self.cols, self.path)
        return time.perf_counter() - t

    def store_mb(self) -> float:
        return tree_bytes(self.path) / 1e6

    def _expected(self) -> tuple[int, int]:
        if self.expected is None:
            ids = self.cols["image_id"]
            sel = ids % self.sample_mod == self.sample_rem
            rows = reference.assign(ids[sel], self.cols["lon"][sel], self.cols["lat"][sel], self.regions, BUFFER)
            self.expected = (len(rows), sum(reference.row_sig(*r) for r in rows))
        return self.expected

    def _assign_pass(self, pts) -> dict:
        """One assign_regions pass to the noop sink; the observation
        carries the row count and the sampled rows' signature."""
        out = assign_regions(pts, self.regions)
        sample = (F.col("image_id") % self.sample_mod) == self.sample_rem
        sig = (
            ((F.col("image_id") % 1_000_003) * 1_000_033 + F.crc32(F.col("region_id")) % 1_000_003)
            % reference.SIG_MOD
            * F.when(F.col("in_poly"), 2).otherwise(1)
        )
        obs = Observation("perfbench_pass")
        out.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(sample, 1).otherwise(0)).alias("s_rows"),
            F.sum(F.when(sample, sig).otherwise(0)).alias("s_sig"),
        ).write.format("noop").mode("overwrite").save()
        return obs.get

    def run_unit(self, i: int, traced: bool) -> dict | None:
        t = time.perf_counter()
        try:
            if traced:
                m = self._traced_pass()
            else:
                m = self._assign_pass(self.spark.read.parquet(self.path))
        except Exception as e:  # noqa: BLE001 — a failed pass is a counted failure
            print(f"pass {i} failed: {e!r}")
            self.record(False)
            return {"fatal": True}
        dt = time.perf_counter() - t
        want_rows, want_sig = self._expected()
        if self.first_rows is None:
            self.first_rows = m["rows"]
        ok = m["s_rows"] == want_rows and m["s_sig"] == want_sig and m["rows"] == self.first_rows
        if not ok:
            print(f"pass {i} wrong: sample rows {m['s_rows']} (want {want_rows}), "
                  f"signature {m['s_sig']} (want {want_sig}), rows {m['rows']} (first {self.first_rows})")
        self.record(ok)
        return {"time": dt, "points": self.n, "rows": m["rows"]}

    def _traced_pass(self) -> dict:
        tr = self.tracer
        with tr.patched([self.cover_patch()]), tr.span("pass"):
            pts = self.spark.read.parquet(self.path)
            with tr.span("coords.encode", side=True) as sp:
                sp["counts"]["rows"] = force(pts.select(cell_id(F.col("lon"), F.col("lat")).alias("_cell")))
            with tr.span("spatial_join.prefilter", side=True) as sp:
                cov = spatial_join.cover_df(self.spark, self.regions, DEFAULT_RES, BUFFER)
                enc = pts.withColumn("_cell", cell_id(F.col("lon"), F.col("lat")))
                r = (
                    enc.join(F.broadcast(cov), enc["_cell"] == cov["cell"], "inner")
                    .agg(F.count(F.lit(1)).alias("cand"),
                         F.sum(F.when(~F.col("full"), 1).otherwise(0)).alias("partial"))
                    .collect()[0]
                )
                sp["counts"].update(candidate=int(r["cand"]), refine=int(r["partial"] or 0))
            with tr.span("spatial_join.assign") as sp:
                m = self._assign_pass(pts)
                sp["counts"]["rows"] = int(m["rows"])
        return m

    def per_layer(self) -> dict:
        tr = self.tracer
        pre = tr.by_name("spatial_join.prefilter")
        asg = tr.by_name("spatial_join.assign")
        prefilter_s = tr.median("spatial_join.prefilter", tr.duration)
        assign_s = tr.median("spatial_join.assign", tr.duration)
        cand = _median([s["counts"]["candidate"] for s in pre])
        refine = _median([s["counts"]["refine"] for s in pre])
        out_rows = _median([s["counts"]["rows"] for s in asg])
        kept = out_rows - (cand - refine)
        refine_s = assign_s - prefilter_s
        pip, buf = self.kernel_rates(self.regions)
        layers = {
            "coords.encode_s": (tr.median("coords.encode", tr.duration), "s"),
            "spatial_join.prefilter_s": (prefilter_s, "s"),
            "spatial_join.candidate_rows": (cand, "count"),
            "spatial_join.refine_rows": (refine, "count"),
            "spatial_join.assign_s": (assign_s, "s"),
            "spatial_join.refine_s": (refine_s, "s"),
            "spatial_join.refine_share": (refine_s / assign_s, "frac"),
            "spatial_join.keep_frac": (kept / refine if refine else 0.0, "frac"),
            "geometry.pip_rows_per_s": (pip, "1/s"),
            "geometry.buffer_rows_per_s": (buf, "1/s"),
            **self.cover_layers(),
        }
        return layers


# -- replication -----------------------------------------------------------------------


class Replicate(Workload):
    """Catch-up replay of minutely states into a TableStore, one state
    per unit, through the calls ``cli.cmd_update`` makes. Each state's
    tile count and the final store are checked against a DuckDB replay."""

    #: a state costs about 160 Spark jobs whatever its size, so a run
    #: affords two warm states
    min_units = 3
    trace_units = 4
    nodes, ways, relations = 50_000, 5_000, 500
    node_changes, group_changes = 2_000, 100
    max_states = trace_units

    def __init__(self, spark, seed, work):
        super().__init__(spark, seed, work)
        self.regions = fixture_regions()
        self.store_size = None

    def setup(self, rep: int) -> float:
        t = time.perf_counter()
        root = os.path.join(self.work, f"setup{rep}")
        shutil.rmtree(root, ignore_errors=True)
        osm = gen.Osm(self.seed, self.nodes, self.ways, self.relations, FIXTURE_BOUNDS)
        self.base = osm.base_points()
        groups = osm.base_groups()
        self.changes = []
        self.diffs = os.path.join(root, "diffs")
        for s in range(1, self.max_states + 1):
            xml, ch = osm.state_xml(s, self.node_changes, self.group_changes)
            gen.write_state(self.diffs, s, xml)
            self.changes.append(ch)
        # the imported extract, as the engine would read it from parquet
        bpath = os.path.join(root, "import", "points.parquet")
        gpath = os.path.join(root, "store", "groups.parquet")
        gen.write_table(self.base, gen.POINT_SCHEMA, bpath)
        gen.write_table(groups, gen.GROUP_SCHEMA, gpath)
        self.store = TableStore(self.spark, os.path.join(root, "store", "points"))
        self.store.init(self.spark.read.parquet(bpath))
        self.groups = self.spark.read.parquet(gpath)
        self.out = os.path.join(root, "out")
        dt = time.perf_counter() - t
        if rep > 0:
            shutil.rmtree(os.path.join(self.work, f"setup{rep - 1}"), ignore_errors=True)
        self.duck = None
        return dt

    def store_mb(self) -> float:
        return (self.store_size or 0) / 1e6

    def _update(self, state: int, read_span=None) -> list[int]:
        """One state through the calls ``cli.cmd_update`` makes. A traced
        state passes ``read_span``, a span for the read whose elements
        it counts."""
        with read_span or contextlib.nullcontext() as sp:
            elements = read_osc_elements_dir(self.spark, gen.state_path(self.diffs, state)).persist()
            points, gch = elements_to_engine(elements, namespace_ids=True)
            if sp is not None:
                sp["counts"]["rows"] = self.tracer.force(sp, elements)
        try:
            return pipeline.run_update(self.store, points, self.regions, self.out,
                                       groups=self.groups, group_diffs=gch)
        finally:
            elements.unpersist()

    def run_unit(self, i: int, traced: bool) -> dict | None:
        state = i + 1
        if state > self.max_states:
            return None
        t = time.perf_counter()
        try:
            applied = self._traced_update(state) if traced else self._update(state)
        except Exception as e:  # noqa: BLE001 — a failed state is a counted failure
            print(f"state {state} failed: {e!r}")
            self.record(False)
            return {"fatal": True}
        dt = time.perf_counter() - t
        if state == self.min_units:
            self.store_size = tree_bytes(self.store.path)
        # check even a state that was not applied, to keep the reference in step
        ok = self._check_state(state) and applied == [state]
        self.record(ok)
        return {"time": dt, "points": len(self.changes[state - 1]["action"])}

    def _check_state(self, state: int) -> bool:
        if self.duck is None:
            self.duck = reference.DuckReplay(self.base)
        ch = self.changes[state - 1]
        eff = self.duck.effective_points(ch)
        want = len(reference.assign(eff["node_id"].to_numpy("int64"), eff["lon"].to_numpy("int64"),
                                    eff["lat"].to_numpy("int64"), self.regions, BUFFER))
        self.duck.apply(ch)
        tiles = os.path.join(self.out, f"tiles/state={state}")
        got = self.spark.read.parquet(tiles).count() if os.path.isdir(tiles) else None
        if got != want:
            print(f"state {state} wrong: {got} tile rows, reference {want}")
        return got == want

    def finish(self) -> None:
        """The final store equals the DuckDB replay: row count and an
        order-independent hash of (image_id, caption, phash)."""
        if self.duck is None:
            return
        cols = ["image_id", "caption", "phash"]
        got = self.store.current().select(*cols).toPandas()
        want = self.duck.store_frame()
        for df in (got, want):
            df["caption"] = df["caption"].astype("string")
            df["phash"] = df["phash"].astype("int64")
        ok = len(got) == len(want) and reference.frame_hash(got[cols]) == reference.frame_hash(want[cols])
        if not ok:
            print(f"store wrong: {len(got)} rows, reference {len(want)}")
        self.record(ok)
        self.duck.close()

    # -- traced state ---------------------------------------------------------------

    def _traced_update(self, state: int) -> list[int]:
        tr = self.tracer
        marks = {}

        def forced(name, fn):
            def after(sp, out, _args):
                sp["counts"]["rows"] = tr.force(sp, out)
                marks[name] = time.perf_counter()
            return tr.wrap(name, fn, after)

        orig_point = pipeline.point_bboxes

        def point_bboxes(base, changes, *a, **k):
            with tr.span("pipeline.base_read", side=True) as sp:
                sp["counts"]["rows"] = base.count()
            return forced("bbox.point", orig_point)(base, changes, *a, **k)

        orig_apply = TableStore.apply_batch

        def apply_batch(store, st, changes):
            now = time.perf_counter()
            if "filter.classify" in marks:
                tr.add_span("pipeline.publish", marks["filter.classify"], now)
            prev = _tree_inodes(store.manifest()["snapshots"][-1]["path"])
            with tr.span("merge.apply") as sp:
                r = orig_apply(store, st, changes)
            new_path = store.manifest()["snapshots"][-1]["path"]
            new = _tree_inodes(new_path)
            fresh = [v for k, v in new.items() if k not in prev]
            buckets = {p.split(os.sep)[0] for p, _ in new.values() if p.startswith("_bucket=")}
            touched = {p.split(os.sep)[0] for p, _ in fresh if p.startswith("_bucket=")}
            sp["counts"].update(written=sum(s for _, s in fresh),
                                buckets=len(buckets), rewritten=len(touched))
            return r

        patches = [
            (pipeline, "point_bboxes", point_bboxes),
            (pipeline, "group_bboxes", forced("bbox.group", pipeline.group_bboxes)),
            (pipeline, "classify_group_diff", forced("filter.group_classify", pipeline.classify_group_diff)),
            (pipeline, "classify_diff", forced("filter.classify", pipeline.classify_diff)),
            (TableStore, "apply_batch", apply_batch),
            self.cover_patch(),
        ]
        with tr.patched(patches), tr.span("state"):
            return self._update(state, tr.span("osc.read"))

    def per_layer(self) -> dict:
        tr = self.tracer

        def med(name, f=tr.duration):
            return tr.median(name, f) or 0.0

        def cnt(name, key):
            return med(name, lambda s: s["counts"][key])

        merge = tr.by_name("merge.apply")
        pip, buf = self.kernel_rates(self.regions)
        layers = {
            "osc.read_s": (med("osc.read"), "s"),
            "osc.elements": (cnt("osc.read", "rows"), "count"),
            "bbox.point_s": (med("bbox.point"), "s"),
            "bbox.group_s": (med("bbox.group"), "s"),
            "bbox.group_jobs": (med("bbox.group", tr.total_jobs), "count"),
            "filter.classify_s": (med("filter.classify"), "s"),
            "filter.group_classify_s": (med("filter.group_classify"), "s"),
            "filter.group_jobs": (med("filter.group_classify", tr.total_jobs), "count"),
            "pipeline.base_read_s": (med("pipeline.base_read"), "s"),
            "pipeline.publish_s": (med("pipeline.publish"), "s"),
            "pipeline.jobs_per_state": (med("state", tr.total_jobs), "count"),
            "merge.apply_s": (med("merge.apply"), "s"),
            "merge.jobs": (med("merge.apply", tr.total_jobs), "count"),
            "merge.rewritten_bucket_frac": (
                _median([s["counts"]["rewritten"] / max(s["counts"]["buckets"], 1) for s in merge]), "frac"),
            "merge.written_mb": (_median([s["counts"]["written"] / 1e6 for s in merge]), "MB"),
            "geometry.pip_rows_per_s": (pip, "1/s"),
            "geometry.buffer_rows_per_s": (buf, "1/s"),
            **self.cover_layers(),
        }
        return layers


WORKLOADS = {
    "tile_points": lambda spark, seed, work: Tile(spark, seed, work, polygons=False),
    "tile_polygons": lambda spark, seed, work: Tile(spark, seed, work, polygons=True),
    "replicate_minutely": Replicate,
}
