"""Box geometry as Catalyst expressions and DataFrame builders.

Column-expression re-implementations of the reference's detection
geometry, all JVM-side (whole-stage codegen, no Python):

* anchor grid generation (X17 — anchors/anchor_boxes.py:6-96),
* box encode Vc/Vh (X13 — target_transformation.py:196-227),
* box decode (X14 — data/postprocessing/box.py:4-36),
* clip to image bounds (F2 — functional/utils/box.py:75-99),
* 8-coord → xyxy (X11 — functional/utils/box.py:7-32),
* 16-px strip split (X16 — data/transformation/data_transformation.py:12-52),
* pairwise IoU with the reference's +1 area convention
  (J1 — target_transformation.py:59-115).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import ANCHOR_HEIGHTS, ANCHOR_SHIFT, FEAT_STRIDE


def anchor_grid(spark: SparkSession, feat_h: int, feat_w: int,
                heights=ANCHOR_HEIGHTS, shift: int = ANCHOR_SHIFT,
                stride: int = FEAT_STRIDE) -> DataFrame:
    """All anchors of a feature map, one row each.

    anchor_id enumerates y-major, then x, then height index — the same
    order as the reference's nested loop (anchor_boxes.py:89-95).
    Pure `sequence`+`explode` arithmetic: distributed generation, no
    driver-side loop, linear in the number of anchors.
    """
    n_h = len(heights)
    heights_arr = F.array(*[F.lit(float(h)) for h in heights])
    cx = (shift - 1) / 2.0
    cy = (shift - 1) / 2.0
    df = (
        spark.range(feat_h)  # y
        .withColumnRenamed("id", "fy")
        .select("fy", F.explode(F.sequence(F.lit(0), F.lit(feat_w - 1))).alias("fx"))
        .select("fy", "fx",
                F.posexplode(heights_arr).alias("hi", "h"))
    )
    return df.select(
        (
            (F.col("fy") * feat_w + F.col("fx")) * n_h + F.col("hi")
        ).alias("anchor_id"),
        (F.col("fx") * stride + cx - F.lit(float(shift)) / 2).alias("xmin"),
        (F.col("fy") * stride + cy - F.col("h") / 2).alias("ymin"),
        (F.col("fx") * stride + cx + F.lit(float(shift)) / 2).alias("xmax"),
        (F.col("fy") * stride + cy + F.col("h") / 2).alias("ymax"),
    )


def encode_box(gt_ymin: Column, gt_ymax: Column,
               a_ymin: Column, a_ymax: Column) -> tuple[Column, Column]:
    """(Vc, Vh) relative vertical coords (X13)."""
    h = gt_ymax - gt_ymin + 1.0
    ha = a_ymax - a_ymin + 1.0
    cy = (gt_ymin + gt_ymax) / 2.0
    cya = (a_ymin + a_ymax) / 2.0
    return (cy - cya) / ha, F.log(h / ha)


def decode_box(vc: Column, vh: Column,
               a_ymin: Column, a_ymax: Column) -> tuple[Column, Column]:
    """Inverse of :func:`encode_box` (X14): predicted (ymin, ymax)."""
    ha = a_ymax - a_ymin + 1.0
    cya = (a_ymin + a_ymax) / 2.0
    vcy = vc * ha + cya
    vhx = F.exp(vh) * ha
    return vcy - vhx / 2.0, vcy + vhx / 2.0


def clip_expr(coord: Column, upper: Column) -> Column:
    """Clamp into [0, upper-1] (F2)."""
    return F.greatest(F.lit(0.0), F.least(coord, upper - 1.0))


def xy_min_max(coords: Column) -> Column:
    """8-coordinate quad array → struct(xmin,ymin,xmax,ymax) (X11).

    Uses the reference's round-half-away semantics (int(round(...)) on
    values ≥ 0 rounds half up, matching Spark's ``round``).
    """
    xs = F.filter(coords, lambda _, i: i % 2 == 0)
    ys = F.filter(coords, lambda _, i: i % 2 == 1)
    return F.struct(
        F.round(F.array_min(xs)).cast("int").alias("xmin"),
        F.round(F.array_min(ys)).cast("int").alias("ymin"),
        F.round(F.array_max(xs)).cast("int").alias("xmax"),
        F.round(F.array_max(ys)).cast("int").alias("ymax"),
    )


def shift_boxes(boxes: Column, dx: Column, dy: Column) -> Column:
    """X15 (split_labels.py:38-68): translate an array of xyxy box
    structs by (dx, dy) — e.g. undoing a crop offset."""
    return F.transform(
        boxes,
        lambda b: F.struct(
            (b["xmin"] + dx).alias("xmin"),
            (b["ymin"] + dy).alias("ymin"),
            (b["xmax"] + dx).alias("xmax"),
            (b["ymax"] + dy).alias("ymax"),
        ),
    )


def order_clockwise(points: Column) -> Column:
    """Order 4 corner points clockwise from top-left (X12 —
    functional/utils/box.py:36-72): sort by x; the two left-most sorted
    by y give (tl, bl), the two right-most give (tr, br); result is
    [tl, tr, br, bl]. ``points``: array<struct<x,y>> of length 4."""
    by_x = F.array_sort(
        points,
        lambda a, b: F.when(a["x"] < b["x"], F.lit(-1))
        .when(a["x"] > b["x"], F.lit(1)).otherwise(F.lit(0)),
    )
    left = F.array_sort(
        F.slice(by_x, 1, 2),
        lambda a, b: F.when(a["y"] < b["y"], F.lit(-1))
        .when(a["y"] > b["y"], F.lit(1)).otherwise(F.lit(0)),
    )
    right = F.array_sort(
        F.slice(by_x, 3, 2),
        lambda a, b: F.when(a["y"] < b["y"], F.lit(-1))
        .when(a["y"] > b["y"], F.lit(1)).otherwise(F.lit(0)),
    )
    return F.array(
        F.element_at(left, 1), F.element_at(right, 1),
        F.element_at(right, 2), F.element_at(left, 2),
    )


def parse_annotation_line(line: Column) -> Column:
    """SROIE annotation line → struct(coords array<double>, transcript)
    (S3/S4 — functional/utils/dataset.py:134-157, utils/misc.py:135-168):
    split on ',' with at most 8 coordinate parts, remainder is the
    transcript (which may itself contain commas)."""
    parts = F.split(F.regexp_replace(F.trim(line), "^﻿", ""), ",", 9)
    coords = F.transform(
        F.slice(parts, 1, 8), lambda p: p.cast("double")
    )
    transcript = F.when(F.size(parts) >= 9, F.element_at(parts, 9)) \
        .otherwise(F.lit(""))
    return F.struct(coords.alias("coords"), transcript.alias("transcript"))


def split_strips(xmin: Column, xmax: Column,
                 shift: int = ANCHOR_SHIFT) -> Column:
    """Strip ids covering [xmin, xmax) at the anchor width (X16):
    ``arange(floor(xmin/shift), ceil(xmax/shift))``."""
    lo = F.floor(xmin / shift).cast("long")
    hi = (F.ceil(xmax / shift) - 1).cast("long")
    return F.when(hi >= lo, F.sequence(lo, hi)).otherwise(
        F.array().cast("array<bigint>")
    )


def iou_expr(a_xmin, a_ymin, a_xmax, a_ymax,
             b_xmin, b_ymin, b_xmax, b_ymax,
             eps: float = 1e-6) -> Column:
    """Jaccard overlap with the reference's conventions (J1):
    intersection *without* +1, areas *with* +1, eps in the denominator
    (target_transformation.py:59-115)."""
    ix = F.greatest(
        F.lit(0.0),
        F.least(a_xmax, b_xmax) - F.greatest(a_xmin, b_xmin),
    )
    iy = F.greatest(
        F.lit(0.0),
        F.least(a_ymax, b_ymax) - F.greatest(a_ymin, b_ymin),
    )
    inter = ix * iy
    area_a = (a_xmax - a_xmin + 1.0) * (a_ymax - a_ymin + 1.0)
    area_b = (b_xmax - b_xmin + 1.0) * (b_ymax - b_ymin + 1.0)
    return inter / (area_a + area_b - inter + F.lit(eps))
