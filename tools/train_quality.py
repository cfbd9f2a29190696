"""Offline trainer for the fastText-style quality classifier (round 5,
distributed-exact semantics since round 6).

Binary logistic regression over hashed unigram+bigram features
(d buckets, md5-substring hash — the exact featurization
``operators/quality_clf.py`` serves in Catalyst). Positives are the
sf0.01 ``documents`` texts; each document's negative is its
token-SORTED corruption — the unigram multiset is identical by
construction, so separating the classes requires word-ORDER (bigram)
statistics, which is what a quality classifier actually distinguishes
between fluent text and word salad. EVEN doc_ids train, ODD doc_ids
are held out (accuracy gated in tests/test_quality_clf.py).

Round 6: the per-example math (dense dot, stable sigmoid, gradient
quantized to integer nanos, update rule) is SHARED with the Spark
trainer (``operators/quality_train.py``) — each example contributes
an int64 gradient, summed exactly, so this loop and the distributed
job land on byte-identical weights regardless of example order or
partitioning. The held-out gate uses the served INTEGER-micro scoring
rule (sign of ``b_micro·n_grams + Σ w_micro[bucket]·cnt``), so the
recorded accuracy is exactly what the shipped classifier achieves.

Deterministic: rerunning reproduces models/quality_clf.json
byte-exactly; ``--distributed`` retrains on Spark and asserts
byte-identity against the committed model.

Usage: python tools/train_quality.py [out.json] [--distributed]
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from icdar_2019_rrc_sroie_spark.operators.quality_clf import (  # noqa: E402
    default_weights_path,
)
from icdar_2019_rrc_sroie_spark.operators.quality_train import (  # noqa: E402
    GRAD_SCALE,
    apply_update,
    example_grad_q,
    mean_loss_micro,
)

CORPUS = "/root/testdata/sf0.01/documents.parquet"
D = 1024
EPOCHS = 80
LR = 2.0


def norm_tokens(text: str) -> list[str]:
    return re.sub(r"\s+", " ", text.strip().lower()).split(" ")


def grams(tokens: list[str]) -> list[str]:
    return tokens + [a + " " + b for a, b in zip(tokens, tokens[1:])]


def bucket(g: str) -> int:
    return int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16) % D


def featurize(tokens: list[str]) -> np.ndarray:
    x = np.zeros(D)
    gs = grams(tokens)
    for g in gs:
        x[bucket(g)] += 1.0
    if gs:
        x /= len(gs)
    return x


def int_counts(tokens: list[str]) -> tuple[dict[int, int], int]:
    """(bucket -> count, n_grams) — the integer face of ``featurize``
    for the exact-micro holdout gate."""
    c: dict[int, int] = {}
    gs = grams(tokens)
    for g in gs:
        b = bucket(g)
        c[b] = c.get(b, 0) + 1
    return c, len(gs)


def train_weights(xs: list[np.ndarray], ys: list[float],
                  epochs: int = EPOCHS, lr: float = LR
                  ) -> tuple[np.ndarray, float, list[int]]:
    """Full-batch GD with per-example int64-quantized gradients —
    byte-identical to ``train_quality_distributed`` by shared
    per-example helpers + exact integer summation. Also returns the
    per-epoch mean log-loss curve (integer micros, same exact-sum
    discipline)."""
    w = np.zeros(D)
    b = 0.0
    n = len(ys)
    losses: list[int] = []
    for _ in range(epochs):
        s = np.zeros(D, dtype=np.int64)
        sb = 0
        sl = 0
        for x, y in zip(xs, ys):
            q, qb, ql = example_grad_q(x, y, w, b)
            s += q
            sb += qb
            sl += ql
        losses.append(mean_loss_micro(sl, n))
        w, b = apply_update(w, b, s, sb, n, lr)
    return w, b, losses


def main() -> None:
    import duckdb

    args = [a for a in sys.argv[1:] if a != "--distributed"]
    distributed = "--distributed" in sys.argv[1:]
    out = args[0] if args else default_weights_path()
    if distributed:
        # Spark-native training (round 6): must reproduce the
        # committed model byte-exactly — the cross-trainer
        # determinism check
        from icdar_2019_rrc_sroie_spark.operators.quality_train import (
            train_quality_distributed,
        )
        from icdar_2019_rrc_sroie_spark.session import get_spark

        spark = get_spark("quality-train")
        spark.sparkContext.setLogLevel("ERROR")
        got = train_quality_distributed(
            spark.read.parquet(CORPUS), d=D, epochs=EPOCHS, lr=LR)
        with open(default_weights_path()) as f:
            committed = json.load(f)
        assert got == committed, (
            "distributed trainer diverged from the committed model: " +
            json.dumps({k: (got[k], committed[k])
                        for k in committed
                        if got.get(k) != committed[k]})[:500])
        print(f"distributed trainer: d={D} epochs={EPOCHS} — "
              "byte-identical to the committed model "
              f"(holdout acc {got['holdout_acc']:.4f})")
        return
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{CORPUS}' ORDER BY doc_id").fetchall()
    xs, ys, held = [], [], []
    for doc_id, text in rows:
        toks = norm_tokens(text)
        if doc_id % 2 == 0:
            xs += [featurize(toks), featurize(sorted(toks))]
            ys += [1.0, 0.0]
        else:
            held += [(int_counts(toks), 1),
                     (int_counts(sorted(toks)), 0)]
    w, b, losses = train_weights(xs, ys)
    w_micro = [int(v) for v in np.floor(w * 1e6 + 0.5)]
    b_micro = int(np.floor(b * 1e6 + 0.5))
    ok = 0
    for (counts, n_grams), y in held:
        numer = b_micro * n_grams + sum(
            w_micro[bk] * c for bk, c in counts.items())
        ok += int(int(numer > 0) == y)
    acc = float(ok) / float(len(held))
    payload = {
        "d": D,
        "b_micro": b_micro,
        "w_micro": w_micro,
        "holdout_acc": acc,
        "n_train": len(ys),
        "n_holdout": len(held),
        "loss_curve_micro": losses,
    }
    with open(out, "w") as f:
        json.dump(payload, f, separators=(",", ":"))
    print(f"{out}: holdout acc {acc:.4f} on {len(held)} examples "
          f"(grad scale {GRAD_SCALE})")


if __name__ == "__main__":
    main()
