"""MERGE emulation + checkpointed store + incremental pipeline:
upsert/delete semantics, last-writer-wins, idempotent re-apply, resume
(reference /root/reference/src/osmbin.rs:665-747 update semantics and
/root/reference/src/update.rs:40-47 state resume)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_replication_rust_spark.operators.merge import TableStore, merge_changes

M = 1_000_000


@pytest.fixture
def base(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["a", "b", "c"],
                "caption": ["ca", "cb", "cc"],
                "phash": [100, 200, 300],
            }
        )
    )


def changes_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["image_id", "action", "seq", "new_caption", "new_phash"],
        ).astype({"new_phash": "object"})
    )


def test_merge_upsert_delete(spark, base):
    ch = changes_df(
        spark,
        [
            ("a", "modify", 0, "ca2", None),  # partial update: phash kept
            ("b", "delete", 1, None, None),
            ("d", "create", 2, "cd", 400),
        ],
    )
    got = {r.image_id: (r.caption, r.phash) for r in merge_changes(base, ch).collect()}
    assert got == {"a": ("ca2", 100), "c": ("cc", 300), "d": ("cd", 400)}


def test_last_writer_wins(spark, base):
    ch = changes_df(
        spark,
        [
            ("a", "modify", 0, "first", None),
            ("a", "modify", 5, "last", None),
            ("b", "delete", 1, None, None),
            ("b", "create", 2, "revived", 250),
        ],
    )
    got = {r.image_id: (r.caption, r.phash) for r in merge_changes(base, ch).collect()}
    assert got["a"] == ("last", 100)
    assert got["b"] == ("revived", 250)


def test_store_idempotent_resume(spark, base, tmp_path):
    store = TableStore(spark, str(tmp_path / "tbl"))
    store.init(base)
    assert store.last_state() == 0

    ch1 = changes_df(spark, [("a", "modify", 0, "ca2", None)])
    ch2 = changes_df(spark, [("b", "delete", 0, None, None)])

    assert store.apply_batch(1, ch1) is True
    assert store.apply_batch(1, ch1) is False  # idempotent: no re-apply
    assert store.apply_batch(2, ch2) is True
    assert store.last_state() == 2
    got = {r.image_id: r.caption for r in store.current().collect()}
    assert got == {"a": "ca2", "c": "cc"}

    # resume: a fresh store object on the same path sees the checkpoint
    store2 = TableStore(spark, str(tmp_path / "tbl"))
    assert store2.last_state() == 2
    assert store2.apply_batch(2, ch2) is False
    man = store2.manifest()
    assert [s["state"] for s in man["snapshots"]] == [0, 1, 2]
    assert all("lineage" in s for s in man["snapshots"][1:])


def test_bucket_pruned_merge(spark, tmp_path):
    """apply_batch rewrites ONLY buckets containing changed keys;
    untouched bucket files are carried forward byte-identical (hard
    links), and the manifest records which buckets were rewritten."""
    base = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"k{i:04d}" for i in range(200)],
                "caption": [f"c{i}" for i in range(200)],
                "phash": list(range(200)),
            }
        )
    )
    store = TableStore(spark, str(tmp_path / "t"), n_buckets=8)
    store.init(base)
    ch = changes_df(spark, [("k0007", "modify", 0, "new7", None)])
    assert store.apply_batch(1, ch) is True

    man = store.manifest()
    v0, v1 = man["snapshots"][0]["path"], man["snapshots"][1]["path"]
    rewritten = set(man["snapshots"][1]["rewritten_buckets"])
    assert len(rewritten) == 1  # one key -> one bucket
    untouched = [
        e for e in os.listdir(v0)
        if e.startswith("_bucket=") and int(e.split("=")[1]) not in rewritten
    ]
    assert len(untouched) == 7
    for e in untouched:
        for fn in os.listdir(os.path.join(v0, e)):
            a, b = os.path.join(v0, e, fn), os.path.join(v1, e, fn)
            assert os.path.exists(b)
            with open(a, "rb") as fa, open(b, "rb") as fb:
                assert fa.read() == fb.read()  # byte-identical carry-forward

    got = {r.image_id: r.caption for r in store.current().collect()}
    assert got["k0007"] == "new7" and len(got) == 200
    # time travel still sees the pre-merge value
    old = {r.image_id: r.caption for r in store.as_of(0).collect()}
    assert old["k0007"] == "c7"


def test_pipeline_end_to_end(spark, regions, images_pdf, tmp_path):
    from osm_replication_rust_spark.datagen.synth import (
        gen_diffs,
        gen_group_diffs,
        gen_groups,
    )
    from osm_replication_rust_spark.plans.pipeline import run_update
    from osm_replication_rust_spark.operators.merge import TableStore

    base = spark.createDataFrame(
        images_pdf[["image_id", "caption", "phash"]].iloc[:300]
    )
    diffs = spark.createDataFrame(gen_diffs(images_pdf.iloc[:300], n_batches=2))
    groups_pdf = gen_groups(images_pdf.iloc[:300])
    groups = spark.createDataFrame(groups_pdf)
    group_diffs = spark.createDataFrame(gen_group_diffs(groups_pdf, n_batches=2))
    store = TableStore(spark, str(tmp_path / "images"))
    store.init(base)

    out_dir = str(tmp_path / "out")
    applied = run_update(
        store, diffs, regions, out_dir, groups=groups, group_diffs=group_diffs
    )
    assert applied == [1, 2]
    assert store.last_state() == 2

    # composite artifacts published per state beside the point artifacts
    gtiles = spark.read.parquet(os.path.join(out_dir, "tiles_groups/state=1"))
    assert set(gtiles.columns) == {"group_id", "kind", "action", "out_action", "region_id"}
    assert gtiles.count() > 0
    gbx = spark.read.parquet(os.path.join(out_dir, "bbox_groups/state=1"))
    assert {"group_id", "kind", "minlat", "maxlat", "minlon", "maxlon"} <= set(gbx.columns)
    assert gbx.count() > 0

    tiles = spark.read.parquet(os.path.join(out_dir, "tiles/state=1"))
    assert tiles.count() > 0
    assert set(tiles.columns) == {"image_id", "action", "out_action", "region_id"}
    # partitioned publish: one directory per region that got rows
    parts = os.listdir(os.path.join(out_dir, "tiles/state=1"))
    assert any(p.startswith("region_id=") for p in parts)

    # resume: re-running applies nothing and changes nothing
    snap_rows = store.current().count()
    assert run_update(store, diffs, regions, out_dir) == []
    assert store.current().count() == snap_rows

    # bbox stage artifact exists per state
    bbox = spark.read.parquet(os.path.join(out_dir, "bbox/state=2"))
    assert {"image_id", "minlat", "maxlat", "minlon", "maxlon"} <= set(bbox.columns)


def test_run_update_releases_persisted_rdds(spark, regions, images_pdf, tmp_path):
    """A 2-state run_update leaves the session's persisted-RDD count
    where it found it: every stage releases what it caches."""
    from osm_replication_rust_spark.datagen.synth import (
        gen_diffs,
        gen_group_diffs,
        gen_groups,
    )
    from osm_replication_rust_spark.plans.pipeline import run_update

    base = spark.createDataFrame(
        images_pdf[["image_id", "caption", "phash"]].iloc[:300]
    )
    diffs = spark.createDataFrame(gen_diffs(images_pdf.iloc[:300], n_batches=2))
    groups_pdf = gen_groups(images_pdf.iloc[:300])
    groups = spark.createDataFrame(groups_pdf)
    group_diffs = spark.createDataFrame(gen_group_diffs(groups_pdf, n_batches=2))
    store = TableStore(spark, str(tmp_path / "images"))
    store.init(base)

    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    applied = run_update(
        store, diffs, regions, str(tmp_path / "out"),
        groups=groups, group_diffs=group_diffs,
    )
    assert applied == [1, 2]
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


#: a created way over a new and a stored node, a modified relation over
#: an UNCHANGED stored way, and a modified 2-cycle whose one relation
#: holds a moved node
_GROUP_DIFF = b"""<osmChange version="0.6">
<create>
  <node id="5" version="1" lat="-0.55" lon="-0.55"/>
  <way id="11" version="1"><nd ref="5"/><nd ref="1"/></way>
</create>
<modify>
  <node id="2" version="2" lat="0.85" lon="0.05"/>
  <relation id="20" version="2"><member type="way" ref="10" role="outer"/></relation>
  <relation id="30" version="2">
    <member type="relation" ref="31" role="loop"/><member type="node" ref="2" role=""/>
  </relation>
  <relation id="31" version="2"><member type="relation" ref="30" role="loop"/></relation>
</modify>
</osmChange>"""


def test_run_update_group_bboxes_equal_cli_annotation(spark, regions, tmp_path):
    """run_update's bbox_groups/state=N are the way/relation rows of
    annotate_diff_bboxes (what `cli bbox` writes) for the same diff and
    store; the relation changed over an unchanged way gets its bbox and
    its tile rows from the way's stored member list."""
    from osm_replication_rust_spark.functions.coords import (
        pack_footprint,
        unpack_lat,
        unpack_lon,
    )
    from osm_replication_rust_spark.operators.bbox import annotate_diff_bboxes
    from osm_replication_rust_spark.plans.pipeline import run_update
    from osm_replication_rust_spark.sources.osc import (
        elements_df,
        elements_to_engine,
        parse_osc_elements,
    )

    store = TableStore(spark, str(tmp_path / "points"))
    store.init(
        spark.createDataFrame(
            [("n1", "c1", -6 * M, -6 * M), ("n2", "c2", 9 * M, 0), ("n3", "c3", 21 * M, 21 * M)],
            "image_id string, caption string, lat long, lon long",
        ).select("image_id", "caption", pack_footprint(F.col("lat"), F.col("lon")).alias("phash"))
    )
    base = store.current().select(
        "image_id",
        unpack_lat(F.col("phash")).alias("lat"),
        unpack_lon(F.col("phash")).alias("lon"),
    )
    groups = spark.createDataFrame(
        [
            ("w10", "way", [("n1", "image", "")]),
            ("r20", "relation", [("w10", "group", "outer")]),
            ("r30", "relation", [("r31", "group", "loop"), ("n2", "image", "")]),
            ("r31", "relation", [("r30", "group", "loop")]),
        ],
        "group_id string, kind string, "
        "members array<struct<ref:string,type:string,role:string>>",
    )
    elements = elements_df(spark, parse_osc_elements(_GROUP_DIFF, state=1))
    want = {
        tuple(r)
        for r in annotate_diff_bboxes(
            elements, base, stored_groups=groups, namespace_ids=True
        )
        .filter(F.col("kind") != "node")
        .select("element_id", "kind", "minlat", "maxlat", "minlon", "maxlon")
        .collect()
    }

    points, gch = elements_to_engine(elements, namespace_ids=True)
    out = str(tmp_path / "out")
    assert run_update(store, points, regions, out, groups=groups, group_diffs=gch) == [1]
    got = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "bbox_groups/state=1"))
        .select("group_id", "kind", "minlat", "maxlat", "minlon", "maxlon")
        .collect()
    }
    assert got == want
    n1 = (-6 * M, -6 * M, -6 * M, -6 * M)
    moved = (8_500_000, 9 * M, 0, 500_000)  # n2: old (9M, 0) ∪ new
    assert {g: bb for g, _, *bb in got} == {
        "w11": [-6 * M, -5_500_000, -6 * M, -5_500_000],
        "r20": list(n1),
        "r30": list(moved),
        "r31": list(moved),
    }
    tiles = {
        (r.group_id, r.region_id)
        for r in spark.read.parquet(os.path.join(out, "tiles_groups/state=1")).collect()
    }
    assert {("r20", reg) for reg in ("A", "A/B", "A/B/C")} <= tiles


def test_version_keyed_idempotent_merge(spark):
    """SURVEY §2.10: MERGE keyed on (id, version) — stale or replayed
    changes (version <= stored version, osm.rs:26) cannot regress newer
    rows; applied upserts advance the stored version; a stale delete is
    ignored while a newer delete lands."""
    base = spark.createDataFrame(
        [("a", "ca", 3), ("b", "cb", 5), ("c", "cc", 1)],
        "image_id string, caption string, version long",
    )
    ch = spark.createDataFrame(
        [
            ("a", "modify", 0, 4, "ca4"),   # newer -> applied
            ("b", "modify", 1, 5, "STALE"), # same version -> ignored
            ("c", "delete", 2, 1, None),    # stale delete -> ignored
            ("d", "create", 3, 1, "cd"),    # unknown key -> insert
        ],
        "image_id string, action string, seq long, version long, new_caption string",
    )
    got = {
        r.image_id: (r.caption, r.version)
        for r in merge_changes(
            base, ch, key="image_id", version_col="version"
        ).collect()
    }
    assert got == {
        "a": ("ca4", 4),
        "b": ("cb", 5),
        "c": ("cc", 1),
        "d": ("cd", 1),
    }
    # replaying the SAME batch on the merged result is a no-op
    merged = merge_changes(base, ch, key="image_id", version_col="version")
    again = {
        r.image_id: (r.caption, r.version)
        for r in merge_changes(
            merged, ch, key="image_id", version_col="version"
        ).collect()
    }
    assert again == got
    # a newer delete lands
    ch2 = spark.createDataFrame(
        [("c", "delete", 0, 2, None)],
        "image_id string, action string, seq long, version long, new_caption string",
    )
    got2 = {
        r.image_id
        for r in merge_changes(
            merged, ch2, key="image_id", version_col="version"
        ).collect()
    }
    assert got2 == {"a", "b", "d"}


def test_version_merge_from_parsed_diff(spark):
    """elements_to_engine threads the element version through, so a
    parsed .osc diff can drive the version-keyed MERGE directly."""
    from osm_replication_rust_spark.sources.osc import (
        elements_df,
        elements_to_engine,
        parse_osc_elements,
    )

    xml = b"""<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
<modify>
<node id="1" version="7" lat="1.0000000" lon="2.0000000"/>
<node id="2" version="1" lat="9.0000000" lon="9.0000000"/>
</modify>
</osmChange>
"""
    points, _ = elements_to_engine(
        elements_df(spark, parse_osc_elements(xml, state=1))
    )
    assert "version" in points.columns
    base = spark.createDataFrame(
        [("1", 0, 0, 3), ("2", 0, 0, 3)],
        "image_id string, lat long, lon long, version long",
    )
    got = {
        r.image_id: (r.lat, r.lon, r.version)
        for r in merge_changes(
            base, points, key="image_id", version_col="version"
        ).collect()
    }
    # node 1: version 7 > 3 applied; node 2: version 1 <= 3 stale
    assert got == {"1": (10_000_000, 20_000_000, 7), "2": (0, 0, 3)}


def test_killed_job_resume_skips_completed_states(spark, regions, images_pdf, tmp_path):
    """North-rule resume contract: a job killed between diff states
    resumes from the checkpoint WITHOUT re-tiling completed work — the
    restart applies only the missing state; the completed state's
    published tile files are untouched (same paths, same bytes)."""
    import pathlib

    from osm_replication_rust_spark.datagen.synth import gen_diffs
    from osm_replication_rust_spark.operators.merge import TableStore
    from osm_replication_rust_spark.plans.pipeline import run_update

    base = spark.createDataFrame(
        images_pdf[["image_id", "caption", "phash"]].iloc[:300]
    )
    diffs_pdf = gen_diffs(images_pdf.iloc[:300], n_batches=2)
    store = TableStore(spark, str(tmp_path / "images"))
    store.init(base)
    out_dir = str(tmp_path / "out")

    # "killed" first run: only state 1 made it through
    d1 = spark.createDataFrame(diffs_pdf[diffs_pdf.state == 1])
    assert run_update(store, d1, regions, out_dir) == [1]
    s1 = pathlib.Path(out_dir) / "tiles" / "state=1"
    before = {
        p.relative_to(s1): (p.stat().st_mtime_ns, p.stat().st_size)
        for p in s1.rglob("*")
        if p.is_file()
    }
    assert before

    # restart with the FULL diff stream: only state 2 applies
    full = spark.createDataFrame(diffs_pdf)
    assert run_update(store, full, regions, out_dir) == [2]
    after = {
        p.relative_to(s1): (p.stat().st_mtime_ns, p.stat().st_size)
        for p in s1.rglob("*")
        if p.is_file()
    }
    assert after == before  # completed state's tiles never re-written
    assert store.last_state() == 2


def test_expire_snapshots_hardlink_safety_and_time_travel(spark, tmp_path):
    """expire_snapshots drops old snapshot dirs; the CURRENT snapshot
    stays fully readable (hard-linked carry-forward files survive the
    rmtree of the snapshot that first wrote them), time travel to an
    expired state raises, and retained states still resolve."""
    base = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"k{i:04d}" for i in range(100)],
                "caption": [f"c{i}" for i in range(100)],
                "phash": list(range(100)),
            }
        )
    )
    store = TableStore(spark, str(tmp_path / "t"), n_buckets=8)
    store.init(base)
    for s in (1, 2, 3):
        store.apply_batch(
            s, changes_df(spark, [(f"k000{s}", "modify", 0, f"new{s}", None)])
        )
    assert [e["state"] for e in store.manifest()["snapshots"]] == [0, 1, 2, 3]

    res = store.expire_snapshots(keep_last=2)
    assert res == {"expired": [0, 1], "kept": [2, 3]}
    assert not os.path.exists(str(tmp_path / "t" / "v0"))
    assert not os.path.exists(str(tmp_path / "t" / "v1"))

    # current() reads every bucket — including ones only ever written
    # by v0 and carried forward as hard links since
    got = {r.image_id: r.caption for r in store.current().collect()}
    assert len(got) == 100
    assert got["k0003"] == "new3" and got["k0099"] == "c99"
    # retained time travel works; expired raises
    old = {r.image_id: r.caption for r in store.as_of(2).collect()}
    assert old["k0002"] == "new2" and old["k0003"] == "c3"
    with pytest.raises(ValueError, match="no snapshot"):
        store.as_of(1)
    with pytest.raises(ValueError, match="keep_last"):
        store.expire_snapshots(keep_last=0)
    # no-op when nothing to expire
    assert store.expire_snapshots(keep_last=5) == {"expired": [], "kept": [2, 3]}


def test_remove_orphans_reclaims_unpublished_snapshots_only(spark, tmp_path):
    """A v{state} dir with no manifest entry (killed before publish) is
    reclaimed; referenced snapshots and non-snapshot entries are
    untouched."""
    base = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"k{i:02d}" for i in range(20)],
                "caption": [f"c{i}" for i in range(20)],
                "phash": list(range(20)),
            }
        )
    )
    store = TableStore(spark, str(tmp_path / "t"), n_buckets=4)
    store.init(base)
    store.apply_batch(1, changes_df(spark, [("k01", "modify", 0, "n1", None)]))
    # simulate a killed job: a written-but-unpublished snapshot dir
    orphan = tmp_path / "t" / "v9"
    (orphan / "_bucket=0").mkdir(parents=True)
    (orphan / "_bucket=0" / "part-0.parquet").write_bytes(b"partial")
    # and an unrelated sidecar that must survive
    side = tmp_path / "t" / "update.lock"
    side.write_text("")
    removed = store.remove_orphans()
    assert removed == [str(orphan)]
    assert not orphan.exists()
    assert side.exists()
    assert os.path.isdir(str(tmp_path / "t" / "v0"))
    assert {r.image_id for r in store.current().collect()} == {
        f"k{i:02d}" for i in range(20)
    }
