"""Thumbnail resize: reference equivalence, kernel path, degrade."""

from __future__ import annotations

import random

from linkmerce_spark.operators.thumbs import area_resize


def _ref_resize(px, w, h, ow, oh):
    out = []
    for ti in range(oh):
        rlo, rhi = ti * h // oh, (ti + 1) * h // oh
        if rhi <= rlo:
            rlo = (2 * ti + 1) * h // (2 * oh)
            rhi = rlo + 1
        for tj in range(ow):
            clo, chi = tj * w // ow, (tj + 1) * w // ow
            if chi <= clo:
                clo = (2 * tj + 1) * w // (2 * ow)
                chi = clo + 1
            for ch in range(3):
                vals = [
                    px[(r * w + c) * 3 + ch]
                    for r in range(rlo, rhi)
                    for c in range(clo, chi)
                ]
                out.append(sum(vals) // len(vals))
    return out


def test_area_resize_matches_reference_and_invariants():
    rng = random.Random(2)
    for _ in range(60):
        w, h = rng.randrange(1, 12), rng.randrange(1, 12)
        px = [rng.randrange(256) for _ in range(w * h * 3)]
        ow, oh = rng.choice([(4, 4), (2, 3), (8, 8), (1, 1)])
        assert area_resize(px, w, h, ow, oh) == _ref_resize(px, w, h, ow, oh)
    # identity when dims already match
    px = [rng.randrange(256) for _ in range(4 * 4 * 3)]
    assert area_resize(px, 4, 4, 4, 4) == px
    # constant image -> constant thumbnail at any scale
    assert area_resize([7, 8, 9] * 50, 10, 5, 4, 4) == [7, 8, 9] * 16
    # 1x1 output is the global floor-mean
    px = [10, 20, 30, 11, 21, 31]
    assert area_resize(px, 2, 1, 1, 1) == [10, 20, 30]


def test_thumbnails_decode_every_image_container(spark):
    """BMP/PNG/GIF decode to the same pixel content (same generating
    formula, different containers) — their thumbnails from the kernel
    must equal area_resize of the formula pixels."""
    from linkmerce_spark.operators.multimodal import (
        _gif_palette,
        extract_media_stats,
        synthesize_media,
    )
    from linkmerce_spark.operators.thumbs import extract_thumbnails

    rows = [(i, "image") for i in (0, 2, 4, 6)] + [
        (3, "video"),
        (1, "audio"),
    ]
    media = synthesize_media(
        spark.createDataFrame(rows, "media_id long, kind string")
    )
    got = {r["media_id"]: r for r in extract_thumbnails(media).collect()}
    for mid in (0, 2):  # bmp: file bytes are B,G,R; png: R,G,B
        w, h = 4 + mid % 5, 2 + mid % 3
        px = []
        for p in range(w * h):
            trip = [
                (mid * 7 + 3 * p) % 251,
                (mid * 7 + 3 * p + 1) % 251,
                (mid * 7 + 3 * p + 2) % 251,
            ]
            px += trip[::-1] if mid % 8 == 0 else trip
        assert got[mid]["thumb"] == area_resize(px, w, h, 4, 4), mid
    mid, w, h = 4, 8, 3  # gif: palette-mapped
    px = []
    for p in range(w * h):
        px += list(_gif_palette((mid * 7 + p) % 251))
    assert got[4]["thumb"] == area_resize(px, w, h, 4, 4)
    # avi first frame: constant thumbnail; the 16x16 block-pattern
    # jpeg (id%16==6) thumbnails to its four per-block colors (cell
    # (ti,tj) -> block f = 2*(ti//2)+(tj//2))
    th3 = got[3]["thumb"]
    assert len(th3) == 48 and th3[0:3] * 16 == th3
    from tests.test_multimodal import _solid_jpeg_closed_form

    mid = 6
    blocks = [
        _solid_jpeg_closed_form(
            (mid * 7 + 19 * f) % 251,
            (mid * 11 + 23 * f) % 251,
            (mid * 13 + 29 * f) % 251,
        )
        for f in range(4)
    ]
    expected = []
    for ti in range(4):
        for tj in range(4):
            expected += list(blocks[2 * (ti // 2) + (tj // 2)])
    assert got[6]["thumb"] == expected
    # audio rows have no pixel tier: degrade, never fail
    assert got[1]["thumb"] is None and got[1]["parse_error"] is not None
    # ...and the stats tier still handles the same frame
    stats = {r["media_id"]: r for r in extract_media_stats(media).collect()}
    assert stats[1]["format"] == "wav"


def test_media_near_dups_is_blocked_and_integer_exact(spark):
    """The pair scorer: within-bucket self-join only (never all-pairs),
    integer-exact cos^2 in bp, exact dups score exactly 10000."""
    from linkmerce_spark.queries import q_media_near_dups

    from pyspark.sql import functions as F

    from linkmerce_spark.frames import load_star
    from linkmerce_spark.operators.multimodal import synthesize_media
    from linkmerce_spark.operators.thumbs import extract_thumbnails

    sf = "/root/testdata/sf0.001"
    rows = q_media_near_dups(spark, sf).collect()
    assert rows, "fixture must contain near-dup thumbnails"
    assert all(r["cos2_bp"] >= 9990 for r in rows)
    assert all(r["id_a"] < r["id_b"] for r in rows)
    # the score is the exact integer floor(1e4*dot^2/(na2*nb2)):
    # recompute the top pair from the decoded thumbnails in Python
    top = rows[0]
    docs = load_star(spark, sf, ["documents"])["documents"]
    media = docs.filter(
        F.col("doc_id").isin(top["id_a"], top["id_b"])
    ).select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("image"))
        .otherwise(F.lit("video"))
        .alias("kind"),
    )
    th = {
        r["media_id"]: r["thumb"]
        for r in extract_thumbnails(synthesize_media(media)).collect()
    }
    a, b = th[top["id_a"]], th[top["id_b"]]
    dot = sum(x * y for x, y in zip(a, b))
    na2 = sum(x * x for x in a)
    nb2 = sum(y * y for y in b)
    assert top["cos2_bp"] == 10000 * dot * dot // (na2 * nb2)


def test_media_near_dups_plan_shape(spark):
    """One bucket-keyed self-join carrying one row per media (the dot
    product is an in-plan zip_with/aggregate, no per-component
    explosion or pair re-aggregation), distributed top-k."""
    from conftest import SF_DIR
    from linkmerce_spark.plans import plan_shape
    from linkmerce_spark.queries import q_media_near_dups

    shape = plan_shape(q_media_near_dups(spark, SF_DIR))
    assert shape.nodes["TakeOrderedAndProject"] >= 1
    # exactly one join in the whole plan (the bucket-blocked self-join)
    joins = shape.joins
    assert sum(joins.values()) == 1 and joins["bnlj"] == joins["cartesian"] == 0, joins
