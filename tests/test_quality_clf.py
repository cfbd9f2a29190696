"""fastText-style quality classifier (round 5): trainer determinism,
held-out accuracy gate, Catalyst-vs-NumPy score parity, and the
zero-shuffle plan shape."""

import hashlib
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from icdar_2019_rrc_sroie_spark.operators.quality_clf import (  # noqa: E402
    default_weights_path,
    load_weights,
    quality_classify,
)


def _norm_tokens(text):
    return re.sub(r"\s+", " ", text.strip().lower()).split(" ")


def _numer(tokens, w):
    gs = tokens + [a + " " + b for a, b in zip(tokens, tokens[1:])]
    s = w["b_micro"] * len(gs)
    for g in gs:
        b = int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % w["d"]
        s += w["w_micro"][b]
    return s


def test_holdout_accuracy_gate():
    w = load_weights()
    assert w["holdout_acc"] >= 0.95, w["holdout_acc"]
    assert w["n_holdout"] >= 400


def test_trainer_is_deterministic(tmp_path):
    out = tmp_path / "clf.json"
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "train_quality.py"),
         str(out)],
        check=True, capture_output=True)
    with open(default_weights_path()) as f:
        assert json.loads(out.read_text()) == json.load(f)


def test_holdout_accuracy_recomputed_from_weights():
    """The committed holdout_acc is not just a recorded claim: rescore
    the ODD-id half (never trained on) with the quantized integer
    weights the engine actually serves."""
    import duckdb

    w = load_weights()
    rows = duckdb.sql(
        "SELECT doc_id, text FROM "
        "'/root/testdata/sf0.01/documents.parquet' "
        "WHERE doc_id % 2 = 1 ORDER BY doc_id").fetchall()
    ok = n = 0
    for _, text in rows:
        toks = _norm_tokens(text)
        ok += (_numer(toks, w) > 0) + (_numer(sorted(toks), w) <= 0)
        n += 2
    assert n >= 400 and ok / n >= 0.95, ok / n


def test_spark_scores_match_python(spark):
    w = load_weights()
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").filter("doc_id < 30")
    got = {r["doc_id"]: (r["clf_n_grams"], r["clf_numer_micro"],
                         r["clf_is_quality"])
           for r in quality_classify(docs).collect()}
    for r in docs.select("doc_id", "text").collect():
        toks = _norm_tokens(r["text"])
        numer = _numer(toks, w)
        want = (2 * len(toks) - 1, numer, int(numer > 0))
        assert got[r["doc_id"]] == want, r["doc_id"]


def test_classifier_separates_sorted_corruption(spark):
    """On unseen sf0.001 docs the served plan must classify real text
    positive and the token-sorted corruption negative (same unigram
    multiset — order statistics only)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    corrupted = docs.select(
        "doc_id",
        F.array_join(
            F.array_sort(F.split(F.regexp_replace(
                F.lower(F.trim("text")), r"\s+", " "), " ")),
            " ").alias("text"))
    n = docs.count()
    pos_acc = quality_classify(docs).filter("clf_is_quality = 1").count() / n
    neg_acc = quality_classify(corrupted) \
        .filter("clf_is_quality = 0").count() / n
    assert pos_acc >= 0.95, pos_acc
    assert neg_acc >= 0.95, neg_acc


def test_plan_is_zero_shuffle_no_udf(spark):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    plan = quality_classify(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
