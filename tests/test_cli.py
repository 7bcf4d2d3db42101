"""CLI end-to-end on the reference's own fixtures: import the .osm.pbf,
replay the boundary diff through `update`, read back the reference's
pinned osmbin values, run `check` and a single-region `filter` extract
(/root/reference/src/bin/{osmbin,update,osmxml}.rs surfaces)."""

import gzip
import os
import shutil

import pytest
from pyspark.sql import functions as F

from osm_replication_rust_spark import cli
from osm_replication_rust_spark.functions.coords import unpack_lat

REF = "/root/reference/tests/resources"
PBF = f"{REF}/saint_barthelemy.osm.pbf"


@pytest.fixture(scope="module")
def store_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("clistore"))
    assert cli.main(["import", PBF, "--store", d]) == 0
    return d


def test_cli_import_and_read_node(spark, store_dir):
    st = cli._store(spark, store_dir)
    got = {
        r.image_id: r.lat
        for r in cli._base_points(st)
        .filter(F.col("image_id").isin("n2619283351", "n2619283352"))
        .collect()
    }
    # the reference's pre-update pins (/root/reference/src/osmbin.rs:1239-1254)
    assert got == {"n2619283351": 179070278, "n2619283352": 179005419}
    assert cli.main(["read", "node", "n2619283351", "--store", store_dir]) == 0


def test_cli_read_way_full(spark, store_dir, capsys):
    assert cli.main(["read", "way_full", "w255316725", "--store", store_dir]) == 0
    out = capsys.readouterr().out
    assert "1 row(s)" in out and "coords" in out


def test_cli_check_runs(spark, store_dir):
    # the extract references elements outside its cut: check must run
    # and report (exit 1 = dangling found, 0 = clean — both are valid
    # outcomes of a *working* checker on a regional extract)
    rc = cli.main(["check", "--store", store_dir, "--limit", "3"])
    assert rc in (0, 1)


def test_cli_update_applies_boundary_diff(spark, store_dir, tmp_path):
    # replication tree: state 1 at minute/000/000/001.osc.gz
    diffs = tmp_path / "minute" / "000" / "000"
    diffs.mkdir(parents=True)
    shutil.copy(f"{REF}/saint_barthelemy-boundary.osc.gz", diffs / "001.osc.gz")
    polys = tmp_path / "polys"
    polys.mkdir()
    shutil.copy(f"{REF}/saint_barthelemy.poly", polys / "saint_barthelemy.poly")
    out = str(tmp_path / "out")

    rc = cli.main([
        "update",
        "--store", store_dir,
        "--polygons", str(polys),
        "--diffs", str(tmp_path / "minute"),
        "--out", out,
    ])
    assert rc == 0
    st = cli._store(spark, store_dir)
    assert st.last_state() == 1
    # post-update pins (/root/reference/src/osmbin.rs:1264-1287) through
    # the CLI path: created node present, deleted node gone
    cur = st.current().select("image_id", unpack_lat(F.col("phash")).alias("lat"))
    got = {
        r.image_id: r.lat
        for r in cur.filter(
            F.col("image_id").isin("n2619283348", "n2619283355", "n2619283354")
        ).collect()
    }
    assert got.get("n2619283348") == 181085101
    assert got.get("n2619283354") == 181153011
    assert "n2619283355" not in got
    # group store merged too (way counts from the same reference test)
    groups = cli._read_groups(spark, store_dir)
    got_w = {
        r.group_id: len(r.members)
        for r in groups.filter(
            F.col("group_id").isin("w255316716", "w255316730", "w255316715")
        ).collect()
    }
    assert got_w.get("w255316716") == 3
    assert got_w.get("w255316730") == 6
    assert "w255316715" not in got_w
    # artifacts published
    assert os.path.isdir(os.path.join(out, "tiles/state=1"))
    assert os.path.exists(os.path.join(out, "metrics/state=1.json"))


def test_cli_filter_extract(spark, store_dir, tmp_path):
    out = str(tmp_path / "extract.osc")
    rc = cli.main([
        "filter",
        f"{REF}/saint_barthelemy.osc.gz",
        out,
        "--poly", f"{REF}/saint_barthelemy.poly",
        "--store", store_dir,
    ])
    assert rc == 0
    from osm_replication_rust_spark.sources.osc import parse_osc_elements

    with open(out, "rb") as f:
        rows = parse_osc_elements(f.read(), state=0)
    assert len(rows) > 0
    kinds = {r["kind"] for r in rows}
    assert "node" in kinds


def test_cli_update_publishes_region_osc_tree(spark, tmp_path):
    """`update --osc-tree` publishes the reference's per-region .osc.gz
    interchange tree (diffs.rs layout) from the same classification the
    tiles came from."""
    store = str(tmp_path / "store")
    assert cli.main(["import", PBF, "--store", store]) == 0
    diffs = tmp_path / "minute" / "000" / "000"
    diffs.mkdir(parents=True)
    shutil.copy(f"{REF}/saint_barthelemy.osc.gz", diffs / "002.osc.gz")
    polys = tmp_path / "polys"
    polys.mkdir()
    shutil.copy(f"{REF}/saint_barthelemy.poly", polys / "saint_barthelemy.poly")
    tree = str(tmp_path / "tree")
    rc = cli.main([
        "update",
        "--store", store,
        "--polygons", str(polys),
        "--diffs", str(tmp_path / "minute"),
        "--out", str(tmp_path / "out"),
        "--osc-tree", tree,
    ])
    assert rc == 0
    leaf = os.path.join(tree, "saint_barthelemy", "minute", "000", "000", "002.osc.gz")
    assert os.path.exists(leaf)
    from osm_replication_rust_spark.sources.osc import parse_osc_elements

    with open(leaf, "rb") as f:
        rows = parse_osc_elements(f.read(), state=2)
    assert len(rows) > 0
    # current-state pointer
    link = os.path.join(tree, "saint_barthelemy", "minute", "state.txt")
    assert os.path.exists(link)


def test_cli_update_follow_streaming(spark, tmp_path):
    """`update --follow`: checkpointed file-stream processing — a second
    CLI invocation resumes from the stream checkpoint and processes
    ONLY the newly-landed diff file."""
    store = str(tmp_path / "store")
    assert cli.main(["import", PBF, "--store", store]) == 0
    diffs = tmp_path / "minute" / "000" / "000"
    diffs.mkdir(parents=True)
    polys = tmp_path / "polys"
    polys.mkdir()
    shutil.copy(f"{REF}/saint_barthelemy.poly", polys / "saint_barthelemy.poly")
    argv = [
        "update", "--follow",
        "--store", store,
        "--polygons", str(polys),
        "--diffs", str(tmp_path / "minute"),
        "--out", str(tmp_path / "out"),
    ]
    shutil.copy(f"{REF}/saint_barthelemy-boundary.osc.gz", diffs / "001.osc.gz")
    assert cli.main(argv) == 0
    st = cli._store(spark, store)
    assert st.last_state() == 1
    # second file lands; restart resumes from the checkpoint
    shutil.copy(f"{REF}/saint_barthelemy.osc.gz", diffs / "002.osc.gz")
    assert cli.main(argv) == 0
    assert cli._store(spark, store).last_state() == 2
    # both states' artifacts exist; state 1 applied once (v1 snapshot dir)
    assert os.path.isdir(os.path.join(store, "points", "v1"))
    assert os.path.isdir(os.path.join(store, "points", "v2"))


def test_cli_read_relation_full_one_root(spark, tmp_path, capsys):
    """`read relation_full` closes over the requested relation only:
    its reachable stored points at their BFS depth, nothing of any
    other relation, and a 2-cycle terminates."""
    from osm_replication_rust_spark.functions.coords import pack_footprint
    from osm_replication_rust_spark.operators.merge import TableStore

    store = str(tmp_path / "store")
    TableStore(spark, os.path.join(store, "points")).init(
        spark.createDataFrame(
            [("n1", "", 1, 10), ("n2", "", 2, 20), ("n3", "", 3, 30)],
            "image_id string, caption string, lat long, lon long",
        ).select(
            "image_id", "caption", pack_footprint(F.col("lat"), F.col("lon")).alias("phash")
        )
    )
    cli._publish_groups(
        spark,
        store,
        spark.createDataFrame(
            [
                ("w10", "way", [("n1", "image", ""), ("n9", "image", "")]),
                ("r20", "relation", [("w10", "group", ""), ("n2", "image", "")]),
                ("r21", "relation", [("r20", "group", "")]),
                ("r30", "relation", [("r31", "group", ""), ("n3", "image", "")]),
                ("r31", "relation", [("r30", "group", "")]),
            ],
            "group_id string, kind string, "
            "members array<struct<ref:string,type:string,role:string>>",
        ),
    )
    assert cli.main(["read", "relation_full", "21", "--store", store]) == 0
    assert capsys.readouterr().out.splitlines() == [
        "{'group_id': 'r21', 'member_id': 'n2', 'depth': 2}",
        "{'group_id': 'r21', 'member_id': 'n1', 'depth': 3}",
        "2 row(s)",
    ]
    assert cli.main(["read", "relation_full", "r31", "--store", store]) == 0
    assert capsys.readouterr().out.splitlines() == [
        "{'group_id': 'r31', 'member_id': 'n3', 'depth': 2}",
        "1 row(s)",
    ]


def test_cli_read_bare_numeric_id(spark, store_dir, capsys):
    """The reference's osmbin --read takes bare numeric ids
    (/root/reference/src/bin/osmbin.rs:43-71); the CLI derives the
    store's type prefix from the requested kind."""
    assert cli.main(["read", "node", "2619283351", "--store", store_dir]) == 0
    out = capsys.readouterr().out
    assert "1 row(s)" in out
    with pytest.raises(SystemExit):
        cli.main(["read", "node", "x123", "--store", store_dir])


def test_cli_bbox_matches_reference_golden(spark, tmp_path, capsys):
    """`bbox` subcommand (reference osmxml --bbox): the annotated copy
    of the diff carries EXACTLY the golden file's <bbox> children,
    decimicro-exact, through the CLI path."""
    from osm_replication_rust_spark.sources.osc import parse_osc_elements

    store = str(tmp_path / "store")
    assert cli.main(["import", PBF, "--store", store]) == 0
    out = str(tmp_path / "annotated.osc.gz")
    rc = cli.main(["bbox", f"{REF}/saint_barthelemy.osc.gz", out, "--store", store])
    assert rc == 0

    with gzip.open(out, "rb") as f:
        got_rows = parse_osc_elements(f.read(), state=1)
    with gzip.open(f"{REF}/saint_barthelemy.bbox.osc.gz", "rb") as f:
        gold_rows = parse_osc_elements(f.read(), state=1)

    key = lambda r: (r["kind"], r["element_id"])  # noqa: E731
    got = {key(r): r["bbox"] for r in got_rows}
    gold = {key(r): r["bbox"] for r in gold_rows}
    assert set(got) == set(gold)
    n_bb = 0
    for k, bb in gold.items():
        assert got[k] == bb, k
        n_bb += bb is not None
    assert n_bb == 12  # every annotated element in the golden file


def test_cli_update_lock_rejects_concurrent(spark, tmp_path):
    """Advisory update lock (reference /root/reference/src/bin/
    update.rs:30-41): while one update holds <store>/update.lock, a
    second invocation fails fast instead of interleaving writes."""
    import fcntl

    store = tmp_path / "store"
    store.mkdir()
    holder = open(store / "update.lock", "w")
    fcntl.flock(holder, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        with pytest.raises(SystemExit, match="update.lock"):
            cli.main([
                "update",
                "--store", str(store),
                "--polygons", str(tmp_path),
                "--diffs", str(tmp_path),
                "--out", str(tmp_path / "out"),
            ])
    finally:
        holder.close()


def test_cli_import_osm_gz_equals_pbf(spark, tmp_path):
    """Importing a plain .osm.gz (reference osmxml import,
    /root/reference/src/bin/osmxml.rs:29-31) yields the same store as
    importing the equivalent .osm.pbf."""
    from osm_replication_rust_spark.sources.pbf import write_pbf

    nodes = [(10, 451234567, 23456789), (11, 451234600, 23456800),
             (12, 451240000, 23460000)]
    ways = [(100, [10, 11, 12])]
    rels = [(500, [(100, "way", "outer"), (10, "node", "admin_centre")])]

    pbf = str(tmp_path / "tiny.osm.pbf")
    write_pbf(pbf, nodes, ways, rels)

    xml = ['<?xml version="1.0" encoding="UTF-8"?>', '<osm version="0.6">']
    for nid, lat, lon in nodes:
        xml.append(f'<node id="{nid}" lat="{lat / 1e7:.7f}" lon="{lon / 1e7:.7f}"/>')
    for wid, refs in ways:
        xml.append(f'<way id="{wid}">' + "".join(f'<nd ref="{r}"/>' for r in refs) + "</way>")
    for rid, members in rels:
        xml.append(
            f'<relation id="{rid}">'
            + "".join(f'<member type="{t}" ref="{r}" role="{ro}"/>' for r, t, ro in members)
            + "</relation>"
        )
    xml.append("</osm>")
    osm = str(tmp_path / "tiny.osm.gz")
    with gzip.open(osm, "wt") as f:
        f.write("\n".join(xml))

    s1, s2 = str(tmp_path / "from_pbf"), str(tmp_path / "from_osm")
    assert cli.main(["import", pbf, "--store", s1]) == 0
    assert cli.main(["import", osm, "--store", s2]) == 0

    def snap(store):
        st = cli._store(spark, store)
        pts = {tuple(r) for r in st.current().select("image_id", "phash").collect()}
        g = cli._read_groups(spark, store)
        grp = {
            (r.group_id, r.kind, tuple((m.ref, m.type, m.role) for m in r.members))
            for r in g.collect()
        }
        return pts, grp

    assert snap(s1) == snap(s2)


def test_cli_groups_publish_atomic_and_heals(spark, tmp_path):
    """groups.parquet is published by versioned-dir + symlink swap: the
    live directory is never deleted before its replacement is complete,
    and a crash between rename and swap heals on the next read."""
    store = str(tmp_path / "store")
    assert cli.main(["import", PBF, "--store", store]) == 0
    gpath = cli._groups_path(store)
    assert os.path.islink(gpath)
    n0 = cli._read_groups(spark, store).count()
    assert n0 > 0

    # crash window: link removed, versioned dir intact -> read heals
    live = os.readlink(gpath)
    os.remove(gpath)
    assert cli._read_groups(spark, store).count() == n0
    assert os.path.islink(gpath) and os.readlink(gpath) == live

    # republish: new version becomes live, stale versions pruned
    g = cli._read_groups(spark, store)
    cli._publish_groups(spark, store, g.limit(5))
    assert cli._read_groups(spark, store).count() == 5
    import glob

    versions = glob.glob(gpath + ".v*")
    assert len(versions) == 1
    assert os.readlink(gpath) == os.path.basename(versions[0])


def test_cli_legacy_publish_crash_heals_to_new_data(spark, tmp_path, monkeypatch):
    """Publishing over a LEGACY store (groups.parquet is a real
    directory, not a symlink) that crashes between the legacy-dir
    rename and the symlink swap must heal to the NEW merge output, not
    resurrect the pre-publish data — the legacy copy is parked under a
    LOWER version than the new write so pick-highest cannot go stale."""
    store = str(tmp_path / "store")
    assert cli.main(["import", PBF, "--store", store]) == 0
    gpath = cli._groups_path(store)
    g_old = cli._read_groups(spark, store)
    n_old = g_old.count()
    g_new = g_old.limit(5)
    g_new.count()  # materialize the plan before the dirs move

    # convert to the legacy layout: real directory, no versions
    import glob

    live = os.path.join(store, os.readlink(gpath))
    os.remove(gpath)
    os.rename(live, gpath)
    for p in glob.glob(gpath + ".v*"):
        shutil.rmtree(p)
    assert os.path.isdir(gpath) and not os.path.islink(gpath)

    # inject a crash at the final symlink swap
    real_replace = os.replace

    def boom(src, dst_, *a, **kw):
        if dst_ == gpath:
            raise RuntimeError("injected crash before symlink swap")
        return real_replace(src, dst_, *a, **kw)

    monkeypatch.setattr(cli.os, "replace", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        cli._publish_groups(spark, store, g_new)
    monkeypatch.undo()

    # crash window: gpath missing, two versioned dirs on disk
    assert not os.path.lexists(gpath)
    healed = cli._read_groups(spark, store)
    assert healed.count() == 5, "heal must pick the new publish, not the legacy dir"
    assert n_old > 5  # the stale data was genuinely different


def test_cli_update_diffs_url_fetch(spark, tmp_path):
    """S12 e2e: a file:// replication tree (state.txt head + 3/3/3
    diff/state pairs) is fetched by `update --diffs-url` and applied —
    same store outcome as pointing --diffs at a local tree."""
    from osm_replication_rust_spark.sources.replication import seq_split

    # fresh store from the reference PBF
    store = str(tmp_path / "store")
    assert cli.main(["import", PBF, "--store", store]) == 0

    # remote replication tree at head=1
    remote = tmp_path / "remote"
    d = remote / "000" / "000"
    d.mkdir(parents=True)
    shutil.copy(f"{REF}/saint_barthelemy-boundary.osc.gz", d / "001.osc.gz")
    (d / "001.state.txt").write_text("sequenceNumber=1\n")
    (remote / "state.txt").write_text("sequenceNumber=1\n")
    assert seq_split(1) == "000/000/001"

    polys = tmp_path / "polys"
    polys.mkdir()
    shutil.copy(f"{REF}/saint_barthelemy.poly", polys / "saint_barthelemy.poly")

    diffs = str(tmp_path / "fetched")
    rc = cli.main([
        "update",
        "--store", store,
        "--polygons", str(polys),
        "--diffs", diffs,
        "--out", str(tmp_path / "out"),
        "--diffs-url", f"file://{remote}/",
    ])
    assert rc == 0
    # the walk landed the diff in the planet/minute layout
    assert os.path.exists(
        os.path.join(diffs, "planet", "minute", "000/000/001.osc.gz")
    )
    st = cli._store(spark, store)
    assert st.last_state() == 1
    # the same post-update pin as the local-diffs path
    cur = st.current().select("image_id", unpack_lat(F.col("phash")).alias("lat"))
    got = {
        r.image_id: r.lat
        for r in cur.filter(F.col("image_id") == "n2619283348").collect()
    }
    assert got.get("n2619283348") == 181085101


def test_cli_cluster_hilbert_layout(spark, tmp_path, capsys):
    """`cluster` rewrites a table hilbert-clustered: the persisted
    curve id is bit-identical to the driver-side twin, per-file id
    ranges are disjoint (the command's own report, rc 0), and the
    packed-footprint unpack path produces the same ids as raw
    lon/lat columns."""
    from osm_replication_rust_spark.functions.coords import (
        LAT_OFFSET,
        LON_OFFSET,
        PHASH_LON_BASE,
        py_hilbert,
    )

    rows = [
        (
            i,
            (i * 2654435761) % 3_600_000_000 - 1_800_000_000,
            (i * 40503) % 1_800_000_000 - 900_000_000,
        )
        for i in range(2000)
    ]
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(rows, "id long, lon long, lat long").coalesce(
        4
    ).write.parquet(src)

    dst = str(tmp_path / "clustered.parquet")
    assert cli.main(["cluster", src, dst, "--files", "8"]) == 0
    out = capsys.readouterr().out
    assert "0 overlapping id ranges" in out

    back = spark.read.parquet(dst)
    got = {r.id: r.hil for r in back.collect()}
    assert len(got) == len(rows)
    for i, lon, lat in rows[:200]:
        assert got[i] == py_hilbert(lon, lat), (i, lon, lat)

    # packed-footprint input path: same ids from a phash column
    packed = [
        (i, (lat + LAT_OFFSET) * PHASH_LON_BASE + (lon + LON_OFFSET))
        for i, lon, lat in rows
    ]
    src2 = str(tmp_path / "src2.parquet")
    spark.createDataFrame(packed, "id long, phash long").write.parquet(src2)
    dst2 = str(tmp_path / "clustered2.parquet")
    assert cli.main(
        ["cluster", src2, dst2, "--phash-col", "phash", "--files", "8"]
    ) == 0
    got2 = {r.id: r.hil for r in spark.read.parquet(dst2).collect()}
    assert got2 == got


def test_cli_maintain_expire_and_orphans(spark, tmp_path, capsys):
    """`maintain --keep-last/--remove-orphans` bounds the points store:
    expiry drops old snapshots while the current one stays readable
    (hard-link carry-forward), orphan cleanup reclaims an unpublished
    v{state} dir, and the update lock is honored."""
    store = str(tmp_path / "mstore")
    assert cli.main(["import", PBF, "--store", store]) == 0
    pts = os.path.join(store, "points")
    # three more snapshots via the TableStore directly (cheaper than
    # three update runs; `update` produces exactly these)
    from osm_replication_rust_spark.operators.merge import TableStore
    from osm_replication_rust_spark.session import get_spark

    ts = TableStore(spark, pts)
    cur = ts.current()
    some_id = cur.select("image_id").limit(1).collect()[0][0]
    n0 = cur.count()
    for s in (1, 2):
        ch = cur.filter(F.col("image_id") == some_id).select(
            "image_id",
            F.lit("modify").alias("action"),
            F.lit(s).cast("long").alias("seq"),
            F.concat(F.lit(f"cap{s}-"), F.col("image_id")).alias("new_caption"),
        )
        assert ts.apply_batch(s, ch) is True
    # orphan: a written-but-unpublished snapshot dir
    os.makedirs(os.path.join(pts, "v99", "_bucket=0"), exist_ok=True)
    rc = cli.main(
        ["maintain", "--store", store, "--keep-last", "1", "--remove-orphans"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "expired 2 snapshot(s)" in out and "removed 1 orphan" in out
    assert not os.path.exists(os.path.join(pts, "v0"))
    assert not os.path.exists(os.path.join(pts, "v99"))
    got = TableStore(spark, pts).current()
    assert got.count() == n0
    assert (
        got.filter(F.col("image_id") == some_id).collect()[0]["caption"]
        == f"cap2-{some_id}"
    )


def test_cli_geojson_roundtrips_reference_poly(spark, tmp_path, capsys):
    """`geojson` converts the reference's own .poly fixture to RFC 7946
    and the parser recovers the identical decimicro rings."""
    import json

    import numpy as np

    from osm_replication_rust_spark.sources.geojson import parse_geojson
    from osm_replication_rust_spark.sources.poly import parse_poly

    dest = str(tmp_path / "sbh.geojson")
    rc = cli.main(
        ["geojson", f"{REF}/saint_barthelemy.poly", dest]
    )
    assert rc == 0
    txt = open(dest).read()
    doc = json.loads(txt)
    assert doc["type"] == "FeatureCollection" and len(doc["features"]) == 1
    back = parse_geojson(txt)[0]
    src = parse_poly(
        open(f"{REF}/saint_barthelemy.poly").read(), "saint_barthelemy"
    )
    assert back.region_id == "saint_barthelemy"
    assert len(back.rings) == len(src.rings)
    for ra, rb in zip(src.rings, back.rings):
        assert ra.hole == rb.hole
        sa = {tuple(p) for p in np.asarray(ra.coords).tolist()}
        sb = {tuple(p) for p in np.asarray(rb.coords).tolist()}
        assert sa == sb
