"""spark-submit packaging, per-channel image stats (A2), class weights
(A3), box shift (X15)."""

import math
import subprocess
import sys
import zipfile

import numpy as np
from pyspark.sql import functions as F

from icdar_2019_rrc_sroie_spark.eval.confusion import class_weights
from icdar_2019_rrc_sroie_spark.operators.geometry import shift_boxes
from icdar_2019_rrc_sroie_spark.operators.multimodal import (
    _fake_decode,
    channel_stats,
)


def test_py_files_zip_imports(tmp_path):
    from tools.package import build

    out = build(str(tmp_path))
    with zipfile.ZipFile(out) as zf:
        names = zf.namelist()
    assert "icdar_2019_rrc_sroie_spark/__init__.py" in names
    assert any("operators/spans.py" in n for n in names)
    # the zip is importable standalone (what --py-files does on executors)
    code = (
        "import sys; sys.path.insert(0, r'%s');"
        "import icdar_2019_rrc_sroie_spark.constants as c;"
        "print(len(c.VOCAB))" % out
    )
    got = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True)
    assert got.stdout.strip() == "70"


def test_built_zip_matches_working_tree(tmp_path):
    """The --py-files zip that tools/package.py builds (the artifact the
    multi-JVM cluster-evidence runs ship) must carry the working tree's
    .py files byte for byte — a stale or partial zip would make
    spark-submit evidence silently test old code (round 6, VERDICT r5
    #9)."""
    import os

    from tools.package import PKG, ROOT, build

    out = build(str(tmp_path))
    with zipfile.ZipFile(out) as zf:
        members = {n: zf.read(n) for n in zf.namelist()
                   if n.endswith(".py")}
    tree = {}
    for dirpath, _dirnames, filenames in os.walk(os.path.join(ROOT, PKG)):
        if "__pycache__" in dirpath:
            continue
        for name in filenames:
            if name.endswith(".py"):
                full = os.path.join(dirpath, name)
                with open(full, "rb") as f:
                    tree[os.path.relpath(full, ROOT)] = f.read()
    assert members == tree, (
        "built zip differs from the working tree: "
        f"{sorted(set(members) ^ set(tree))[:5] or 'content differs'}")


def test_channel_stats(spark):
    rows = [
        ("m1", "image", b"\x01\x02", (6, 4, 3, None, None)),
        ("m2", "image", b"\x03", (5, 5, 3, None, None)),
    ]
    df = spark.createDataFrame(
        rows, "media_id string, kind string, payload binary,"
        " meta struct<width:int,height:int,channels:int,"
        "sample_rate:int,n_frames:int>")
    got = {r["channel"]: r for r in channel_stats(df).collect()}
    # oracle: decode the same payloads and pool
    arrays = [_fake_decode(b"\x01\x02", 6, 4, 3),
              _fake_decode(b"\x03", 5, 5, 3)]
    for ch in range(3):
        px = np.concatenate([a[:, :, ch].ravel() for a in arrays]).astype(float)
        assert got[ch]["n_pixels"] == px.size
        assert got[ch]["mean"] == np.mean(px)
        assert abs(got[ch]["std"] - np.std(px)) < 1e-9


def test_class_weights_reference_formula(spark):
    labels = spark.createDataFrame(
        [(0,)] * 80 + [(1,)] * 15 + [(2,)] * 5, "cls int")
    got = {r["cls"]: r["weight"] for r in class_weights(labels).collect()}
    total = 100
    for cls, cnt in ((0, 80), (1, 15), (2, 5)):
        expected = max(1.0, math.log(0.15 * total / cnt))
        assert abs(got[cls] - expected) < 1e-12


def test_shift_boxes(spark):
    df = spark.createDataFrame(
        [([{"xmin": 1.0, "ymin": 2.0, "xmax": 3.0, "ymax": 4.0}],)],
        "boxes array<struct<xmin:double,ymin:double,xmax:double,ymax:double>>")
    got = df.select(
        shift_boxes(F.col("boxes"), F.lit(10.0), F.lit(-1.0)).alias("b")
    ).collect()[0]["b"][0]
    assert (got["xmin"], got["ymin"], got["xmax"], got["ymax"]) == \
        (11.0, 1.0, 13.0, 3.0)


def test_stratified_sample_balances_classes(spark):
    """Semantic property beyond the value oracle: the kept set's
    per-language counts all land near the rarest language's count
    (expectation min_n, binomial noise), and the sampler is
    deterministic (same rows on a rerun)."""
    from icdar_2019_rrc_sroie_spark.queries import q_stratified_sample

    sf = "/root/testdata/sf0.01"
    out = q_stratified_sample(spark, sf).toPandas()
    full = spark.read.parquet(f"{sf}/documents.parquet") \
        .groupBy("lang").count().toPandas().set_index("lang")["count"]
    min_n = int(full.min())
    kept = out.groupby("lang").size()
    for lang, n in kept.items():
        # 4-sigma binomial tolerance around min_n
        sigma = (min_n * (1 - min_n / full[lang])) ** 0.5
        assert abs(n - min_n) <= max(4 * sigma, 6), (lang, n, min_n)
    # the rarest class is kept (almost) whole; the largest is cut hard
    assert kept[full.idxmin()] >= min_n - 2
    assert kept[full.idxmax()] <= full.max() * 0.5
    again = q_stratified_sample(spark, sf).toPandas()
    assert out.equals(again)
