"""Offline trainer for charlm_lite — the engine's REAL learned line
classifier (U3). Pure NumPy multinomial logistic regression over the
shared featurization (operators/model_udf.py:featurize_lines); the
frozen weights ship as icdar_2019_rrc_sroie_spark/models/charlm_lite.npz
and flow through the broadcast + Arrow-batch inference seam exactly
like a CharLM checkpoint would (reference contract:
keyword_information_extraction/model/charlm/architecture.py:118-170
consuming functional/saving/checkpoint.py:22-63 state).

Training corpus: receipt lines reconstructed from the EVEN-indexed
golden submissions (the labeled entity strings the reference repo
ships) plus deterministic synthetic noise lines; the ODD half is held
out for the parity test (tests/test_learned_classifier.py). Fully
deterministic — rerunning reproduces the committed weights bit-exactly.

Usage: python tools/train_charlm_lite.py [out.npz]
"""

from __future__ import annotations

import glob
import json
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from icdar_2019_rrc_sroie_spark.constants import LABELS_CLASSES  # noqa: E402
from icdar_2019_rrc_sroie_spark.operators.model_udf import (  # noqa: E402
    default_weights_path,
    featurize_lines,
)

GOLDEN_DIR = ("/root/reference/keyword_information_extraction/data/"
              "dataset/submission/submit")


def golden_lines(parity: int) -> tuple[list[str], list[int], list[int]]:
    """Receipt lines + class labels + line_idx from every golden whose
    index % 2 == parity (labels by construction, same reconstruction as
    tests/test_golden_submissions.py)."""
    texts, labels, line_idxs = [], [], []
    files = sorted(glob.glob(f"{GOLDEN_DIR}/*.txt"))
    if not files:
        raise SystemExit(f"no goldens under {GOLDEN_DIR}")
    for i, f in enumerate(files):
        if i % 2 != parity:
            continue
        g = json.load(open(f))
        li = 0
        for field, label in (("company", "company"), ("address", "address")):
            if field in g:
                texts.append(g[field])
                labels.append(LABELS_CLASSES[label])
                line_idxs.append(li)
                li += 1
        if "date" in g:
            texts.append("DATE: " + g["date"])
            labels.append(LABELS_CLASSES["date"])
            line_idxs.append(li)
            li += 1
        texts.append("1 X ITEM 1.00")
        labels.append(LABELS_CLASSES["none"])
        line_idxs.append(li)
        li += 1
        if "total" in g:
            texts.append("TOTAL " + g["total"])
            labels.append(LABELS_CLASSES["total"])
            line_idxs.append(li)
            li += 1
        texts.append("THANK YOU")
        labels.append(LABELS_CLASSES["none"])
        line_idxs.append(li)
    return texts, labels, line_idxs


def noise_lines(n: int = 400, seed: int = 13
                ) -> tuple[list[str], list[int], list[int]]:
    """Deterministic 'none' lines: item rows, counters, separators."""
    rng = np.random.RandomState(seed)
    words = ["ITEM", "QTY", "CASH", "CHANGE", "INVOICE NO", "CASHIER",
             "TABLE", "GST SUMMARY", "SUBTOTAL ITEMS", "VISA", "MEMBER"]
    texts, labels, idxs = [], [], []
    for i in range(n):
        w = words[int(rng.randint(len(words)))]
        k = int(rng.randint(1, 99))
        style = i % 4
        if style == 0:
            t = f"{k} X {w} {k}.00"
        elif style == 1:
            t = f"{w} {k}"
        elif style == 2:
            t = "*" * 12
        else:
            t = f"{w}: {k}{k}"
        texts.append(t)
        labels.append(LABELS_CLASSES["none"])
        idxs.append(2 + (i % 5))
    return texts, labels, idxs


def train(X: np.ndarray, y: np.ndarray, n_classes: int = 5,
          epochs: int = 300, lr: float = 1.0, l2: float = 1e-4
          ) -> tuple[np.ndarray, np.ndarray]:
    """Full-batch multinomial logistic regression, deterministic."""
    n, d = X.shape
    W = np.zeros((d, n_classes))
    b = np.zeros(n_classes)
    Y = np.eye(n_classes)[y]
    for _ in range(epochs):
        logits = X @ W + b
        exp = np.exp(logits - logits.max(axis=1, keepdims=True))
        P = exp / exp.sum(axis=1, keepdims=True)
        G = (P - Y) / n
        W -= lr * (X.T @ G + l2 * W)
        b -= lr * G.sum(axis=0)
    return W, b


def main(out_path: str | None = None) -> None:
    texts, labels, idxs = golden_lines(parity=0)
    nt, nl, ni = noise_lines()
    texts += nt
    labels += nl
    idxs += ni
    X = featurize_lines(pd.Series(texts), np.array(idxs))
    y = np.array(labels)
    W, b = train(X, y)
    pred = (X @ W + b).argmax(axis=1)
    acc = float((pred == y).mean())
    path = out_path or default_weights_path()
    import os

    os.makedirs(os.path.dirname(path), exist_ok=True)
    np.savez(path, W=W.astype(np.float64), b=b.astype(np.float64))
    print(f"train lines={len(y)} train_acc={acc:.4f} -> {path}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
