"""Staged bbox aggregation — the set-based re-expression of the
reference's bbox-annotation pass (/root/reference/src/osmxml/bbox.rs).

The reference streams a diff and, per element, probes its osmbin store
for old geometry, folding min/max into a BoundingBox
(/root/reference/src/osm.rs:155-171) while consulting running maps of
bboxes computed earlier in the same batch
(/root/reference/src/osmxml/bbox.rs:16-18, 61-66, 79-84, 116-122).

Set-based equivalent (SURVEY.md §4.3 #4): because OSM diffs order nodes
before ways before relations, the per-row running maps are equivalent to
a staged batch computation over the full diff:

  stage 1  point bbox = old coord ∪ new coord              (union + agg)
  stage 2  group bbox = min/max over the point bboxes of    (closure + join
           (ways and    every leaf member the group's        + agg)
           relations)   member closure reaches

A way or relation's bbox is the union of its members' bboxes, so it is
the union over the leaf points reachable from it — one aggregate over
the cycle-safe member closure (operators/resolve.member_closure). The
closure's visited set is the reference's cycle guard
(/root/reference/src/osmxml/bbox.rs:112-115): a back-edge adds no new
leaf. Missing references contribute nothing (tolerated, reference
/root/reference/src/osmbin.rs:427-430).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .resolve import member_closure

def _point_aggs():
    # built lazily: Column construction needs an active SparkContext
    return [
        F.min("lat").alias("minlat"),
        F.max("lat").alias("maxlat"),
        F.min("lon").alias("minlon"),
        F.max("lon").alias("maxlon"),
    ]


def point_bboxes(
    base: DataFrame,
    changes: DataFrame,
    id_col: str = "image_id",
) -> DataFrame:
    """bbox of each changed point = old coord ∪ new coord (reference
    /root/reference/src/osmxml/bbox.rs:60-71: both lookups feed the same
    expand). ``base`` carries (id, lat, lon); ``changes`` carries
    (id, action, new_lat, new_lon). Deletes fold in only the old coord;
    creates only the new one; missing base rows are tolerated."""
    changed_ids = changes.select(F.col(id_col)).distinct()
    old_pts = base.join(changed_ids, id_col, "left_semi").select(
        id_col, F.col("lat").cast("long").alias("lat"), F.col("lon").cast("long").alias("lon")
    )
    new_pts = changes.filter(F.col("new_lat").isNotNull()).select(
        id_col,
        F.col("new_lat").cast("long").alias("lat"),
        F.col("new_lon").cast("long").alias("lon"),
    )
    return old_pts.unionByName(new_pts).groupBy(id_col).agg(*_point_aggs())


def annotate_diff_bboxes(
    elements: DataFrame,
    base: DataFrame,
    stored_groups: DataFrame | None = None,
    namespace_ids: bool = False,
) -> DataFrame:
    """bbox per changed element of a parsed three-kind diff
    (sources.osc.ELEMENT_SCHEMA) — the set-based re-expression of the
    reference's bbox-annotation pass (/root/reference/src/osmxml/bbox.rs
    write_node/write_way/write_relation): every element's bbox is the
    union of its OLD geometry (store lookups: ``base`` points and
    ``stored_groups`` membership) and its NEW geometry (the diff
    element's own refs), with diff-internal references resolving
    through the same-batch bboxes (the reference's *_modified maps).

    Returns (element_id, kind, minlat, maxlat, minlon, maxlon);
    elements none of whose geometry resolves are absent (the reference
    emits no <bbox> child then, bbox.rs:145-163). The member closure is
    cycle-safe (the 7801⇄7802-style cycle contributes nothing,
    bbox.rs:112-115).

    Deviation (documented): for an element id occurring MORE THAN ONCE
    in one diff the reference emits a per-occurrence running bbox in
    document order; the set-based pass emits the final (full-union)
    bbox for every occurrence — identical for the last occurrence,
    which is the one the *_modified map carries forward.

    Scale: the closure is seeded from the changed elements only, so the
    group stage touches the diff's neighbourhood, never the whole
    store."""
    from ..sources.osc import elements_to_engine

    points, gch = elements_to_engine(elements, namespace_ids=namespace_ids)
    pb = point_bboxes(base, points)  # changed nodes: old ∪ new
    if stored_groups is None:  # nothing stored: the diff's own lists
        stored_groups = gch.select(
            "group_id", "kind", F.col("new_members").alias("members")
        )
    gb = group_bboxes(stored_groups, pb, changes=gch, base=base)
    bb_cols = ["minlat", "maxlat", "minlon", "maxlon"]
    nodes_out = pb.select(
        F.col("image_id").alias("element_id"), F.lit("node").alias("kind"), *bb_cols
    )
    comps_out = gb.select(F.col("group_id").alias("element_id"), "kind", *bb_cols)
    return nodes_out.unionByName(comps_out)


def group_bboxes(
    groups: DataFrame,
    point_bbox: DataFrame,
    changes: DataFrame | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """bboxes of composite groups (ways + relations): min/max over the
    bboxes of every point their member closure reaches (one join and
    one aggregate over :func:`resolve.member_closure`).

    Without ``changes`` every group of ``groups`` (group_id, kind,
    members) is a root and expands through its own member list. With
    ``changes`` — a diff's way/relation rows (group_id[, kind]
    [, new_members]) — only the changed groups are roots; a changed
    group expands through its stored ∪ new member list (the reference
    expands both, bbox.rs:86-89) and every other group through its
    stored list. ``point_bbox`` (image_id, minlat, maxlat, minlon,
    maxlon) resolves point refs; with ``base`` (image_id, lat, lon) a
    point also contributes its stored coordinate.

    Returns (group_id, kind, minlat, maxlat, minlon, maxlon); groups
    none of whose members resolve are absent (the reference emits no
    bbox child in that case, /root/reference/src/osmxml/bbox.rs:145-163).
    Missing members contribute nothing; cycles stop contributing."""
    links = groups.select("group_id", "members")
    kinds = groups.select("group_id", "kind")
    roots = groups
    if changes is not None:
        roots = changes
        if "new_members" in changes.columns:
            links = links.unionByName(
                changes.select("group_id", F.col("new_members").alias("members"))
            )
        if "kind" in changes.columns:
            kinds = kinds.unionByName(changes.select("group_id", "kind"))
    if base is not None:
        point_bbox = point_bbox.unionByName(
            base.select(
                "image_id",
                F.col("lat").cast("long").alias("minlat"),
                F.col("lat").cast("long").alias("maxlat"),
                F.col("lon").cast("long").alias("minlon"),
                F.col("lon").cast("long").alias("maxlon"),
            )
        )
    return (
        member_closure(links, roots)
        .join(kinds, "group_id")
        .join(point_bbox.withColumnRenamed("image_id", "ref"), "ref")
        .groupBy("group_id", "kind")
        .agg(
            F.min("minlat").alias("minlat"),
            F.max("maxlat").alias("maxlat"),
            F.min("minlon").alias("minlon"),
            F.max("maxlon").alias("maxlon"),
        )
    )
