"""Distributed quality-classifier training (round 6): bit-exact
equivalence with the in-memory reference trainer, partitioning
invariance of the quantized-gradient sums, and Spark-vs-Python
featurization parity."""

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from icdar_2019_rrc_sroie_spark.operators.quality_train import (  # noqa: E402
    densify,
    featurize_examples,
    train_quality_distributed,
)
from tools.train_quality import (  # noqa: E402
    featurize,
    int_counts,
    norm_tokens,
    train_weights,
)

D = 1024


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").filter("doc_id < 40")


def _inmemory_payload(rows, epochs, lr):
    xs, ys, held = [], [], []
    for doc_id, text in rows:
        toks = norm_tokens(text)
        if doc_id % 2 == 0:
            xs += [featurize(toks), featurize(sorted(toks))]
            ys += [1.0, 0.0]
        else:
            held += [(int_counts(toks), 1), (int_counts(sorted(toks)), 0)]
    w, b, losses = train_weights(xs, ys, epochs=epochs, lr=lr)
    w_micro = [int(v) for v in np.floor(w * 1e6 + 0.5)]
    b_micro = int(np.floor(b * 1e6 + 0.5))
    ok = sum(
        int(int(b_micro * n + sum(
            w_micro[bk] * c for bk, c in counts.items()) > 0) == y)
        for (counts, n), y in held)
    return {
        "d": D, "b_micro": b_micro, "w_micro": w_micro,
        "holdout_acc": float(ok) / float(len(held)),
        "n_train": len(ys), "n_holdout": len(held),
        "loss_curve_micro": losses,
    }


def test_distributed_matches_inmemory_reference(spark, docs):
    """Same docs, 6 epochs: every payload field byte-identical —
    weights, bias, and the integer-rule holdout accuracy."""
    rows = sorted(
        (r["doc_id"], r["text"])
        for r in docs.select("doc_id", "text").collect())
    want = _inmemory_payload(rows, epochs=6, lr=2.0)
    got = train_quality_distributed(docs, d=D, epochs=6, lr=2.0)
    assert got == want


def test_partitioning_invariance(spark, docs):
    """int64 gradient quantization makes the epoch sum exact and
    order-free: 3-partition and 13-partition runs give identical
    weights."""
    a = train_quality_distributed(docs.repartition(3), d=D, epochs=3)
    b = train_quality_distributed(docs.repartition(13), d=D, epochs=3)
    assert a == b


def test_featurization_parity(spark, docs):
    """Spark sparse features densify to the exact in-memory dense
    vectors (same md5 buckets, same cnt/n_grams float64 division),
    for both the document and its sorted corruption."""
    feats = {
        r["ex_id"]: r
        for r in featurize_examples(docs, D).collect()}
    for doc_id, text in docs.select("doc_id", "text").collect():
        toks = norm_tokens(text)
        for off, tk in ((0, toks), (1, sorted(toks))):
            r = feats[doc_id * 2 + off]
            got = densify(r["idx"], r["cnt"], float(r["n_grams"]), D)
            want = featurize(tk)
            assert np.array_equal(got, want), (doc_id, off)
            assert r["y"] == (1.0 if off == 0 else 0.0)
            assert r["is_train"] == (doc_id % 2 == 0)


def test_featurization_is_single_scan_jvm_side(spark, docs):
    """The corpus-proportional step is JVM-only: no Python eval nodes
    in the featurization plan (training's Python is confined to the
    per-epoch Arrow kernel over the cached features)."""
    plan = featurize_examples(docs, D)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan, plan[:2000]


def test_resume_after_crash_is_byte_identical(spark, docs, tmp_path):
    """Round 6: per-epoch atomic weight checkpoints. Crash after
    epoch 2, drop a torn _tmp- file into the dir, resume — the final
    payload equals the uninterrupted run's, and a completed dir makes
    the rerun a no-op with the same result."""
    want = train_quality_distributed(docs, d=D, epochs=6)
    rd = str(tmp_path / "q-resume")
    with pytest.raises(RuntimeError, match="injected failure"):
        train_quality_distributed(
            docs, d=D, epochs=6, resume_dir=rd, fail_after_epoch=2)
    with open(rd + "/_tmp-epoch-00005.json", "w") as f:
        f.write("{torn")
    got = train_quality_distributed(docs, d=D, epochs=6, resume_dir=rd)
    assert got == want
    assert train_quality_distributed(
        docs, d=D, epochs=6, resume_dir=rd) == want
    # a SMALLER budget against the further-trained dir must return
    # that budget's exact result, not a later state
    want4 = train_quality_distributed(docs, d=D, epochs=4)
    assert train_quality_distributed(
        docs, d=D, epochs=4, resume_dir=rd) == want4
