"""Learned-weights seam (U3): the committed charlm_lite checkpoint —
REAL NumPy-trained logistic weights, not a deterministic stand-in —
flows through the broadcast + Arrow-batch inference path and matches or
beats the deterministic Catalyst scorer on held-out golden lines.

Training used only EVEN-indexed goldens (tools/train_charlm_lite.py);
everything here evaluates the ODD half, never seen at training time.
Reference contract: charlm/architecture.py:118-170 consuming
functional/saving/checkpoint.py:22-63 state."""

import glob
import json
import os

import numpy as np
import pandas as pd
import pytest

from icdar_2019_rrc_sroie_spark.constants import LABELS_CLASSES
from icdar_2019_rrc_sroie_spark.operators.model_udf import (
    classify_lines_trained,
    default_weights_path,
    featurize_lines,
    load_trained_params,
)

GOLDEN_DIR = ("/root/reference/keyword_information_extraction/data/"
              "dataset/submission/submit")
TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")

#: The held-out lines and the trainer both read the reference goldens.
needs_goldens = pytest.mark.skipif(
    not os.path.isdir(GOLDEN_DIR),
    reason=f"reference goldens not present at {GOLDEN_DIR}")


def _held_out_lines():
    """ODD-indexed golden receipts reconstructed as labeled lines —
    same construction as the trainer, disjoint receipts."""
    texts, labels, idxs, convs = [], [], [], []
    for i, f in enumerate(sorted(glob.glob(f"{GOLDEN_DIR}/*.txt"))):
        if i % 2 != 1:
            continue
        g = json.load(open(f))
        name = f.rsplit("/", 1)[1][:-4]
        li = 0
        for field in ("company", "address"):
            if field in g:
                texts.append(g[field])
                labels.append(LABELS_CLASSES[field])
                idxs.append(li)
                convs.append(name)
                li += 1
        if "date" in g:
            texts.append("DATE: " + g["date"])
            labels.append(LABELS_CLASSES["date"])
            idxs.append(li)
            convs.append(name)
            li += 1
        texts.append("1 X ITEM 1.00")
        labels.append(LABELS_CLASSES["none"])
        idxs.append(li)
        convs.append(name)
        li += 1
        if "total" in g:
            texts.append("TOTAL " + g["total"])
            labels.append(LABELS_CLASSES["total"])
            idxs.append(li)
            convs.append(name)
            li += 1
        texts.append("THANK YOU")
        labels.append(LABELS_CLASSES["none"])
        idxs.append(li)
        convs.append(name)
    return texts, labels, idxs, convs


def test_weights_file_committed_and_loadable():
    path = default_weights_path()
    assert os.path.exists(path), "committed checkpoint missing"
    p = load_trained_params()
    assert p["W"].ndim == 2 and p["W"].shape[1] == 5
    assert p["b"].shape == (5,)
    # genuinely trained: weights are dense and non-trivial
    assert (np.abs(p["W"]) > 1e-6).mean() > 0.3


@needs_goldens
def test_learned_beats_or_matches_deterministic_on_held_out(spark):
    texts, labels, idxs, convs = _held_out_lines()
    assert len(texts) > 900
    lines = spark.createDataFrame(
        pd.DataFrame({"conv_id": convs, "turn_idx": 0,
                      "line_idx": idxs, "text": texts}))

    got = classify_lines_trained(lines).toPandas() \
        .set_index(["conv_id", "line_idx"])
    key = list(zip(convs, idxs))
    learned_pred = got.loc[key, "cls"].to_numpy()
    y = np.array(labels)
    learned_acc = float((learned_pred == y).mean())

    from icdar_2019_rrc_sroie_spark.operators.classify import classify_lines

    det = classify_lines(lines).toPandas().set_index(["conv_id", "line_idx"])
    det_acc = float((det.loc[key, "cls"].to_numpy() == y).mean())

    assert learned_acc >= 0.99, (learned_acc, det_acc)
    assert learned_acc >= det_acc, (learned_acc, det_acc)


@needs_goldens
def test_broadcast_path_matches_driver_side_matmul(spark):
    """The Arrow kernel output must equal a straight driver-side
    forward with the same frozen weights (no silent feature drift)."""
    texts, labels, idxs, convs = _held_out_lines()
    texts, idxs, convs = texts[:200], idxs[:200], convs[:200]
    lines = spark.createDataFrame(
        pd.DataFrame({"conv_id": convs, "turn_idx": 0,
                      "line_idx": idxs, "text": texts}))
    got = classify_lines_trained(lines).toPandas() \
        .sort_values(["conv_id", "line_idx"]).reset_index(drop=True)

    p = load_trained_params()
    order = sorted(range(len(texts)), key=lambda i: (convs[i], idxs[i]))
    X = featurize_lines(pd.Series([texts[i] for i in order]),
                        np.array([idxs[i] for i in order]))
    logits = X @ p["W"] + p["b"]
    exp = np.exp(logits - logits.max(axis=1, keepdims=True))
    probs = exp / exp.sum(axis=1, keepdims=True)
    assert (got["cls"].to_numpy() == logits.argmax(axis=1)).all()
    assert np.allclose(got["prob"].to_numpy(), probs.max(axis=1),
                       atol=1e-12)


@needs_goldens
def test_trainer_reproduces_committed_weights(tmp_path):
    """Determinism: rerunning the offline trainer writes bit-identical
    parameters (the checkpoint is auditable, not a one-off artifact)."""
    import subprocess
    import sys

    out = tmp_path / "w.npz"
    subprocess.run(
        [sys.executable, os.path.join(TOOLS, "train_charlm_lite.py"),
         str(out)],
        check=True, capture_output=True)
    fresh = np.load(out)
    committed = np.load(default_weights_path())
    assert np.array_equal(fresh["W"], committed["W"])
    assert np.array_equal(fresh["b"], committed["b"])
