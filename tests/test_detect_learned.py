"""Learned region localizer (U1 — ctpn_lite): REAL NumPy-trained
anchor-scoring weights over real raster features, flowing through the
broadcast + Arrow seam into the existing decode/clip/NMS/connector
plan. Training used only EVEN-seeded synthetic pages
(tools/train_ctpn_lite.py); everything end-to-end here evaluates ODD
seeds, never seen at training time.

Reference contract: text_localization/ctpn/model/architecture.py:137-177
(anchor scores + vertical regression) consuming
functional/saving/checkpoint.py:22-63 state, feeding
data/postprocessing/detector.py:27-93."""

import os

import numpy as np
import pandas as pd
import pytest

from icdar_2019_rrc_sroie_spark.operators.detect_learned import (
    DETECT_HEIGHTS,
    FEAT_H,
    FEAT_W,
    PAGE_H,
    PAGE_W,
    anchor_boxes_np,
    anchor_features,
    default_weights_path,
    detect_lines_learned,
    label_anchors,
    load_detector_params,
    score_anchors,
    synth_page,
    vertical_regression,
)
from icdar_2019_rrc_sroie_spark.operators.multimodal import encode_bmp

TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _iou(a, b):
    ix1, iy1 = max(a[0], b[0]), max(a[1], b[1])
    ix2, iy2 = min(a[2], b[2]), min(a[3], b[3])
    inter = max(ix2 - ix1, 0) * max(iy2 - iy1, 0)
    ua = ((a[2] - a[0]) * (a[3] - a[1])
          + (b[2] - b[0]) * (b[3] - b[1]) - inter)
    return inter / ua


def _media_df(spark, seeds):
    rows, gt = [], {}
    for seed in seeds:
        arr, boxes = synth_page(seed)
        gt[f"p{seed}"] = boxes
        rows.append((f"p{seed}", "image", bytearray(encode_bmp(arr)),
                     {"width": PAGE_W, "height": PAGE_H, "channels": 3,
                      "sample_rate": None, "n_frames": None}))
    df = spark.createDataFrame(
        rows, "media_id string, kind string, payload binary, "
              "meta map<string,int>")
    return df, gt


# ---------------------------------------------------------------------------
# Checkpoint + NumPy-side contracts
# ---------------------------------------------------------------------------


def test_weights_file_committed_and_loadable():
    assert os.path.exists(default_weights_path()), "checkpoint missing"
    p = load_detector_params()
    assert p["w"].shape == (5,)
    # genuinely trained: no zero weights, mixed signs
    assert (np.abs(p["w"]) > 1e-6).all()
    assert (p["w"] > 0).any() and (p["w"] < 0).any()


def test_trainer_reproduces_committed_weights(spark, tmp_path):
    """Determinism: rerunning the offline trainer reproduces the
    committed parameters to within float rounding, and the detector
    serves exactly the same lines from either set on held-out pages.
    Bit-identity is not portable: OpenBLAS picks its matrix-vector
    kernel per CPU (DYNAMIC_ARCH), which moves w/b by ~1e-15 over the
    500 epochs."""
    import subprocess
    import sys

    out = tmp_path / "w.npz"
    subprocess.run(
        [sys.executable, os.path.join(TOOLS, "train_ctpn_lite.py"),
         str(out)],
        check=True, capture_output=True)
    fresh = load_detector_params(str(out))
    committed = load_detector_params()
    np.testing.assert_allclose(fresh["w"], committed["w"],
                               rtol=1e-12, atol=0)
    np.testing.assert_allclose(fresh["b"], committed["b"],
                               rtol=1e-12, atol=0)

    media, _ = _media_df(spark, range(1, 41, 2))
    cols = ["doc_id", "xmin", "ymin", "xmax", "ymax"]

    def served(params):
        return (detect_lines_learned(media, params=params).toPandas()[cols]
                .sort_values(cols).reset_index(drop=True))

    want = served(committed)
    assert len(want) > 0
    pd.testing.assert_frame_equal(served(fresh), want)


def test_anchor_boxes_np_matches_anchor_grid(spark):
    """The NumPy mirror must enumerate exactly like geometry.anchor_grid
    (same anchor_id order and coordinates) — otherwise the learned
    predictions join against the wrong anchors."""
    from icdar_2019_rrc_sroie_spark.operators.geometry import anchor_grid

    got = (anchor_grid(spark, 3, 4, heights=DETECT_HEIGHTS)
           .orderBy("anchor_id").toPandas())
    want = anchor_boxes_np(3, 4, DETECT_HEIGHTS)
    assert (got["anchor_id"].to_numpy() == np.arange(len(want))).all()
    np.testing.assert_allclose(
        got[["xmin", "ymin", "xmax", "ymax"]].to_numpy(), want)


def test_label_anchors_forced_assignment():
    """Every GT line owns at least one positive anchor even when no
    anchor clears the IoU threshold (match_anchors parity:
    target_transformation.py:163-166)."""
    boxes = anchor_boxes_np(FEAT_H, FEAT_W, DETECT_HEIGHTS)
    # a line centered exactly between two anchor rows
    gts = [(32.0, 15.0, 96.0, 25.0)]
    y = label_anchors(boxes, gts)
    assert (y == 1.0).sum() >= 4  # one per 16-px strip
    assert (y == 0.0).sum() > len(boxes) * 0.8


def test_vertical_regression_recovers_planted_extent():
    """Decoding (vc, vh) with the anchor's own geometry must land on
    the planted dark band (X13 round trip through the raster)."""
    arr, gts = synth_page(7)
    boxes = anchor_boxes_np(FEAT_H, FEAT_W, DETECT_HEIGHTS)
    vc, vh = vertical_regression(arr, boxes)
    gx1, gy1, gx2, gy2 = gts[0]
    # the best-overlapping anchor inside the first line's x-extent
    # (forced-assignment semantics: argmax, no threshold)
    inside = [i for i, b in enumerate(boxes)
              if b[0] >= gx1 and b[2] <= gx2]
    assert inside
    i = max(inside, key=lambda j: _iou(
        (boxes[j][0], boxes[j][1], boxes[j][2], boxes[j][3]),
        (boxes[j][0], gy1, boxes[j][2], gy2)))
    ha = boxes[i, 3] - boxes[i, 1] + 1.0
    cya = (boxes[i, 1] + boxes[i, 3]) / 2.0
    cy = vc[i] * ha + cya
    h = np.exp(vh[i]) * ha
    assert abs(cy - (gy1 + gy2 - 1) / 2.0) <= 1.5
    assert abs(h - (gy2 - gy1)) <= 1.5


def test_no_fires_on_blank_page():
    """Hard-negative control: an empty page produces no anchors above
    the decision threshold."""
    arr = np.full((PAGE_H, PAGE_W, 3), 245, dtype=np.uint8)
    boxes = anchor_boxes_np(FEAT_H, FEAT_W, DETECT_HEIGHTS)
    s = score_anchors(anchor_features(arr, boxes), load_detector_params())
    assert (s <= 0.7).all()


# ---------------------------------------------------------------------------
# End-to-end held-out detection quality (the U1 gate)
# ---------------------------------------------------------------------------


def test_learned_detection_recovers_held_out_lines(spark):
    """ODD-seeded pages (disjoint from training): ≥90% of planted lines
    recovered at IoU ≥ 0.5, ≥90% of detections match a planted line.
    Measured 68/71 recall, 68/72 precision at commit time."""
    media, gt = _media_df(spark, range(1, 41, 2))
    out = detect_lines_learned(media).toPandas()
    tot = hit = ndet = matched = 0
    for doc, boxes in gt.items():
        dets = out[out.doc_id == doc][
            ["xmin", "ymin", "xmax", "ymax"]].values.tolist()
        ndet += len(dets)
        for g in boxes:
            tot += 1
            hit += any(_iou(g, d) >= 0.5 for d in dets)
        for d in dets:
            matched += any(_iou(g, d) >= 0.5 for g in boxes)
    assert tot >= 60
    assert hit / tot >= 0.9, f"recall {hit}/{tot}"
    assert matched / ndet >= 0.9, f"precision {matched}/{ndet}"


def test_predictions_flow_through_broadcast_seam(spark):
    """The Arrow kernel must equal a driver-side forward with the same
    frozen weights (no silent feature drift through the broadcast)."""
    from icdar_2019_rrc_sroie_spark.operators.detect_learned import (
        predict_anchors,
    )

    media, _ = _media_df(spark, [3, 9])
    got = (predict_anchors(media, FEAT_H, FEAT_W, DETECT_HEIGHTS)
           .orderBy("doc_id", "anchor_id").toPandas())
    boxes = anchor_boxes_np(FEAT_H, FEAT_W, DETECT_HEIGHTS)
    params = load_detector_params()
    for doc, seed in (("p3", 3), ("p9", 9)):
        arr, _ = synth_page(seed)
        want_s = score_anchors(anchor_features(arr, boxes), params)
        want_vc, want_vh = vertical_regression(arr, boxes)
        sub = got[got.doc_id == doc]
        np.testing.assert_allclose(sub["score"].to_numpy(), want_s,
                                   atol=1e-12)
        np.testing.assert_allclose(sub["vc"].to_numpy(), want_vc,
                                   atol=1e-12)
        np.testing.assert_allclose(sub["vh"].to_numpy(), want_vh,
                                   atol=1e-12)


def test_vertical_regression_matches_per_anchor_loop():
    """The strip-vectorized regression must equal the straight
    per-anchor loop (the formulation the docstring promises) on random
    rasters — including nearest-row ties and all-light strips."""
    def loop_oracle(arr, boxes):
        from icdar_2019_rrc_sroie_spark.operators.multimodal import to_gray

        gray = to_gray(arr)
        h, w = gray.shape
        dark = gray < 128.0
        vc = np.zeros(len(boxes))
        vh = np.zeros(len(boxes))
        for i, (bx1, by1, bx2, by2) in enumerate(boxes):
            x1, x2 = int(max(bx1, 0)), int(min(np.ceil(bx2), w))
            if x2 <= x1:
                continue
            col = dark[:, x1:x2].mean(axis=1) > 0.5
            if not col.any():
                continue
            center = int(np.clip(round((by1 + by2) / 2.0), 0, h - 1))
            dark_rows = np.nonzero(col)[0]
            seed = dark_rows[np.abs(dark_rows - center).argmin()]
            lo = hi = seed
            while lo > 0 and col[lo - 1]:
                lo -= 1
            while hi < h - 1 and col[hi + 1]:
                hi += 1
            ha = by2 - by1 + 1.0
            cya = (by1 + by2) / 2.0
            vc[i] = ((lo + hi) / 2.0 - cya) / ha
            vh[i] = np.log((hi - lo + 1.0) / ha)
        return vc, vh

    boxes = anchor_boxes_np(FEAT_H, FEAT_W, DETECT_HEIGHTS)
    for seed in (0, 5, 9):
        rng = np.random.RandomState(seed)
        # banded noise: dark rows in stripes + salt so runs/ties occur
        arr = np.full((PAGE_H, PAGE_W, 3), 245, dtype=np.uint8)
        for _ in range(6):
            y = int(rng.randint(PAGE_H - 8))
            arr[y:y + int(rng.randint(2, 9)), :, :] = 40
        arr[rng.rand(PAGE_H, PAGE_W) < 0.02] = 60
        got_vc, got_vh = vertical_regression(arr, boxes)
        want_vc, want_vh = loop_oracle(arr, boxes)
        np.testing.assert_allclose(got_vc, want_vc, atol=0)
        np.testing.assert_allclose(got_vh, want_vh, atol=0)
    # blank raster -> all zeros
    blank = np.full((PAGE_H, PAGE_W, 3), 245, dtype=np.uint8)
    vc, vh = vertical_regression(blank, boxes)
    assert (vc == 0).all() and (vh == 0).all()
