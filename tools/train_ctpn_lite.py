"""Offline trainer for ctpn_lite — the engine's REAL learned region
localizer (U1). Pure NumPy binary logistic regression over per-anchor
raster features (operators/detect_learned.py:anchor_features); the
frozen weights ship as icdar_2019_rrc_sroie_spark/models/ctpn_lite.npz
and flow through the broadcast + Arrow-batch inference seam exactly
like a CTPN checkpoint would (reference contract:
text_localization/ctpn/model/architecture.py:137-177 consuming
functional/saving/checkpoint.py:22-63 state).

Training corpus: EVEN-seeded synthetic receipt pages from the shared
builder (detect_learned.synth_page) with CTPN-style IoU anchor targets
(label_anchors — 16-px strip GTs, pos/neg thresholds, ignore zone).
ODD seeds are held out for tests/test_detect_learned.py. Deterministic
on one host; across hosts OpenBLAS picks its matrix-vector kernel per
CPU, so a rerun matches the committed weights to ~1e-15, not bit-exactly
(tests/test_detect_learned.py checks the tolerance and that the served
detections are identical).

Usage: python tools/train_ctpn_lite.py [out.npz]
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from icdar_2019_rrc_sroie_spark.operators.detect_learned import (  # noqa: E402
    DETECT_HEIGHTS,
    FEAT_H,
    FEAT_W,
    anchor_boxes_np,
    anchor_features,
    default_weights_path,
    label_anchors,
    synth_page,
)

N_PAGES = 48  # even seeds 0,2,...,94


def build_dataset() -> tuple[np.ndarray, np.ndarray]:
    boxes = anchor_boxes_np(FEAT_H, FEAT_W, DETECT_HEIGHTS)
    Xs, ys = [], []
    for seed in range(0, 2 * N_PAGES, 2):
        arr, gts = synth_page(seed)
        feats = anchor_features(arr, boxes)
        y = label_anchors(boxes, gts)
        keep = y >= 0.0  # drop the ignore zone (F4/F5 semantics)
        Xs.append(feats[keep])
        ys.append(y[keep])
    return np.concatenate(Xs), np.concatenate(ys)


def train(X: np.ndarray, y: np.ndarray, epochs: int = 500,
          lr: float = 2.0, l2: float = 1e-4) -> tuple[np.ndarray, float]:
    """Full-batch binary logistic regression, deterministic. Positives
    are ~1% of anchors, so each class is weighted to equal mass."""
    n, d = X.shape
    w = np.zeros(d)
    b = 0.0
    pos = y == 1.0
    sw = np.where(pos, 0.5 / max(pos.sum(), 1),
                  0.5 / max((~pos).sum(), 1)) * n
    for _ in range(epochs):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
        g = (p - y) * sw / n
        w -= lr * (X.T @ g + l2 * w)
        b -= lr * g.sum()
    return w, b


def main(out_path: str | None = None) -> None:
    X, y = build_dataset()
    w, b = train(X, y)
    p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
    pred = p > 0.5
    pos = y == 1.0
    recall = float(pred[pos].mean())
    precision = float(pos[pred].mean()) if pred.any() else 0.0
    path = out_path or default_weights_path()
    import os

    os.makedirs(os.path.dirname(path), exist_ok=True)
    np.savez(path, w=w.astype(np.float64), b=np.float64(b))
    print(f"anchors={len(y)} positives={int(pos.sum())} "
          f"recall={recall:.4f} precision={precision:.4f} -> {path}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
