"""Physical-plan checks: the properties that make the engine scale
(SURVEY.md §4) are asserted, not assumed."""

from pyspark.sql import functions as F

from icdar_2019_rrc_sroie_spark.fixtures import transcripts_df
from icdar_2019_rrc_sroie_spark.plans.extraction import extract_spans


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_flagship_single_skew_free_exchange(spark):
    """The batch flagship costs exactly one hash exchange, keyed by
    (conv_id, turn_idx) — fine-grained, so long conversations cannot
    concentrate on one task."""
    t = transcripts_df(spark, n_convs=64)
    plan = _formatted_plan(extract_spans(t))
    assert plan.count("ENSURE_REQUIREMENTS") == 1, plan
    assert "hashpartitioning(conv_id" in plan


def test_streaming_strategy_shuffle_free(spark):
    """The stateless strategy used under readStream has zero
    data-dependency shuffles."""
    from icdar_2019_rrc_sroie_spark.plans.extraction import (
        extract_spans_stateless,
    )

    t = transcripts_df(spark, n_convs=64)
    plan = _formatted_plan(extract_spans_stateless(t))
    assert plan.count("ENSURE_REQUIREMENTS") == 0, plan


def test_flagship_no_python_after_generation(spark):
    """Only the synthetic-corpus generator runs Python; the extraction
    itself is JVM-only (no BatchEvalPython / ArrowEvalPython nodes
    beyond the single mapInPandas source)."""
    t = transcripts_df(spark, n_convs=4)
    plan = _formatted_plan(extract_spans(t))
    # formatted explain prints each node twice (tree + detail block);
    # exactly one MapInPandas node == the generator only
    assert plan.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def _fold_counts(df) -> tuple[int, int]:
    """(winning-run folds, address-absorption folds) in the optimized
    plan of a spans query."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return (plan.count("aggregate(filter(runs"),
            plan.count("aggregate(arrays_zip"))


def test_span_assembly_folds_planned_once(spark):
    """Span assembly plans each interpreted fold once: one winning-run
    fold per entity class and one address-absorption fold. A Column is
    an expression tree, so a fold reused by value would be pasted into
    every use (144 and 3 copies when built in one projection) and
    analyzed, optimized and evaluated that many times."""
    from icdar_2019_rrc_sroie_spark.plans.extraction import (
        extract_spans_stateless,
    )

    t = transcripts_df(spark, n_convs=64)
    assert _fold_counts(extract_spans(t)) == (4, 1)
    runs, absorb = _fold_counts(extract_spans_stateless(t))
    assert runs <= 4 and absorb <= 1, (runs, absorb)


def test_parquet_filter_pushdown(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = df.filter(F.col("l_orderkey") == 42).select("l_orderkey", "l_quantity")
    plan = _formatted_plan(q)
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]" in plan
    # column pruning: scan schema restricted to the two projected columns
    assert "l_extendedprice" not in plan


def test_broadcast_join_for_small_dim(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    supplier = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    j = li.join(supplier, li.l_suppkey == supplier.s_suppkey) \
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
    plan = _formatted_plan(j)
    assert "BroadcastHashJoin" in plan


def test_jaccard_candidate_bounded_plan(spark):
    """With a candidate set, the verification stage must never contain
    a shingle-only self-join (the quadratic hot-shingle blowup): every
    join touching the shingle column also carries a document id."""
    import re

    from icdar_2019_rrc_sroie_spark.operators.dedup import (
        jaccard_pairs,
        minhash_candidates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    cands = minhash_candidates(docs, num_hashes=4, rows_per_band=2)
    plan = jaccard_pairs(docs, candidates=cands)._jdf.queryExecution() \
        .executedPlan().toString()
    for line in plan.split("\n"):
        if "Join" not in line:
            continue
        keys = re.findall(r"\[([^\]]*)\]", line)
        joined = " ".join(keys[:2])
        if "shingle" in joined:
            assert "id_a" in joined or "id_b" in joined, line


def test_kernel_shuffles_keep_core_parallelism(spark):
    """The CPU-bound Python kernels repartition explicitly so AQE's
    size-based coalescing cannot starve them of tasks."""
    import pandas as pd

    from icdar_2019_rrc_sroie_spark.operators.ordering import reading_order

    rows = [("d%03d" % (i % 50), i, i * 37 % 997, i * 61 % 613)
            for i in range(2000)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "box_id", "x", "y"]))
    plan = _formatted_plan(reading_order(df))
    n = spark.sparkContext.defaultParallelism
    assert f"REPARTITION_BY_NUM, {n}" in plan or \
        f"hashpartitioning(doc_id" in plan and f", {n})" in plan, plan


def test_bucketed_tables_join_without_shuffle(spark):
    """SURVEY §4 bucketing claim: two tables bucketed+sorted on the join
    key sort-merge-join with ZERO shuffle exchanges — the co-located
    join strategy for repeated big-big joins at scale."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")
        df = spark.range(10_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        for t in ("t_bucket_a", "t_bucket_b"):
            df.write.bucketBy(8, "k").sortBy("k").mode("overwrite") \
                .saveAsTable(t)
        j = spark.table("t_bucket_a").join(spark.table("t_bucket_b"), "k")
        plan = _formatted_plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_page_header_strip_single_projection(spark):
    """The cross-page repeated-line strip is pure per-row array
    algebra: no Exchange, no Python nodes — the property that makes it
    a 10^12-doc operator."""
    from icdar_2019_rrc_sroie_spark.operators.boilerplate import (
        strip_repeated_page_lines,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.select(
        "doc_id",
        strip_repeated_page_lines(F.col("text")).alias("s"))
    plan = _formatted_plan(q)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_detection_prefix_pushdown_and_broadcast(spark):
    """detection_prefix: the key filter reaches the parquet scan and
    the constant-size anchor grid joins broadcast."""
    from icdar_2019_rrc_sroie_spark.queries_geo import q_detection_prefix

    plan = _formatted_plan(
        q_detection_prefix(spark, "/root/testdata/sf0.001"))
    assert "PushedFilters" in plan and "l_orderkey" in plan.split(
        "PushedFilters")[1][:200], plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # scan reads only the join key, not the whole lineitem row
    assert "l_extendedprice" not in plan


def test_adjust_annotations_broadcasts_offsets(spark):
    """The label-shift join must broadcast the (tiny) offsets side —
    no shuffle of the annotations table."""
    from icdar_2019_rrc_sroie_spark.plans.crop_job import (
        adjust_annotations,
    )

    annotations = spark.createDataFrame(
        [("m1", [1.0] * 8, "T")],
        "media_id string, coords array<double>, transcript string")
    offsets = spark.createDataFrame([("m1", 3, 4)],
                                    "media_id string, dx int, dy int")
    plan = _formatted_plan(adjust_annotations(annotations, offsets))
    assert "BroadcastHashJoin" in plan, plan


def test_tfidf_pushdown_broadcast_and_topk_limit(spark):
    """tfidf_topk's 100×-scale shape: the doc_id bound reaches the
    parquet scan, the tiny term-df dim is broadcast (the tf fact never
    re-shuffles for it), and Spark's WindowGroupLimit pushes the top-3
    below the window exchange (partial top-k per map task)."""
    from icdar_2019_rrc_sroie_spark.queries import q_tfidf_topk

    plan = _formatted_plan(q_tfidf_topk(spark, "/root/testdata/sf0.001"))
    assert "LessThan(doc_id,300)" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_stratified_sample_fact_scan_joins_broadcast(spark):
    """stratified_sample: the fact table takes exactly one pass and
    meets the per-class rate dim through a broadcast hash join; its
    only exchange is the final presentation sort. The counts subplans
    read just the lang column (pruned scans)."""
    from icdar_2019_rrc_sroie_spark.queries import q_stratified_sample

    plan = _formatted_plan(q_stratified_sample(spark,
                                               "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ReadSchema: struct<lang:string>" in plan


def test_decontaminate_broadcast_semi_join(spark):
    """The eval probe must reach the corpus as a broadcast LEFT SEMI
    join — the corpus side never shuffles for the probe."""
    from icdar_2019_rrc_sroie_spark.operators.dedup import decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    evals = docs.filter(F.col("doc_id") % 97 == 3) \
        .select(F.col("doc_id").alias("qid"), "text")
    plan = _formatted_plan(decontaminate(docs, evals, k=8))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_winnow_arrow_kernel_gets_narrow_normalized_input(spark):
    """Round-7 shape guard: winnowing runs as ONE Arrow batch kernel
    (MapInPandas) whose input is exactly (id, canonical text) — the
    normalization regex runs once per doc JVM-side, no text column is
    shipped twice, and no interpreted-HOF md5 pass remains (the round-4
    Generate-based form re-ran md5 per window when inlined, and the HOF
    eval path itself degraded 15× in JIT-polluted sessions — see
    operators/dedup.py::_winnow_kernel)."""
    from icdar_2019_rrc_sroie_spark.operators.dedup import (
        dedup_spans,
        winnow_fingerprint_positions,
        winnow_fingerprints,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for q in (winnow_fingerprints(docs),
              winnow_fingerprint_positions(docs, k=30, window=8),
              dedup_spans(docs, k=30, window=8)):
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        assert "mapInPandas" in plan or "MapInPandas" in plan, plan
        kernel_lines = [ln for ln in plan.splitlines()
                        if "apInPandas" in ln]
        for ln in kernel_lines:  # narrow input: id + _nt only
            assert "text#" not in ln.split("[")[-1] or "_nt" in ln, ln


def test_probe_candidates_single_join_any_n_bits(spark):
    """Multiprobe candidate generation is ONE self-equi-join on
    exploded probe keys (round-5 restructure): the optimized plan of
    embedding_near_dups carries exactly 3 Join nodes — 1 candidate
    join + 2 id-only vector re-joins — whether n_bits is 4 or 12 (the
    round-4 masked form built n_bits+1 joins, each shuffling vector
    payloads)."""
    import re

    from icdar_2019_rrc_sroie_spark.operators.indexes import release_indexes
    from icdar_2019_rrc_sroie_spark.operators.similarity import (
        embedding_near_dups,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .limit(64)
    for bits in (4, 12):
        out = embedding_near_dups(df, threshold=0.9, n_bits=bits,
                                  multiprobe=1, dim=64,
                                  max_bucket_size=None)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        n_joins = len(re.findall(r"^\s*[:+\-\s]*Join ", plan,
                                 re.MULTILINE))
        assert n_joins == 3, f"n_bits={bits}: {n_joins} joins\n{plan}"
        release_indexes()


def test_semdedup_serving_is_jvm_side(spark):
    """The semdedup SERVING path (committed centroids) must stay pure
    Catalyst — no Python eval node anywhere in the judged plan. The
    Arrow-batched numpy argmin is a TRAINING-loop tool (kmeans_lloyd
    re-plans per iteration, where the 512-literal Catalyst argmin costs
    ~10 s codegen each time); serving plans once and must not pay the
    Arrow transfer per row."""
    from icdar_2019_rrc_sroie_spark.operators.indexes import (
        release_indexes,
    )
    from icdar_2019_rrc_sroie_spark.operators.semdedup import semdedup
    from icdar_2019_rrc_sroie_spark.operators.similarity import (
        load_centroids,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = semdedup(df, eps=0.999, centroids=load_centroids())
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "PythonUDF" not in plan and "EvalPython" not in plan
    release_indexes()


def test_kmeans_lloyd_assignment_is_arrow_batched(spark):
    """Regression guard for the round-5 training-loop fix: the Lloyd
    iteration's REAL assignment plan (via the factored
    _lloyd_assigned builder kmeans_lloyd itself calls) must go through
    the Arrow seam (ArrowEvalPython), NOT the literal-array Catalyst
    argmin whose re-planning cost grows with k*dim every iteration —
    the first version of this test asserted a local spy copy of the
    UDF, which guarded nothing (round-5 review)."""
    from icdar_2019_rrc_sroie_spark.operators.semdedup import (
        _lloyd_assigned,
        kmeans_lloyd,
    )

    df = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(32)
    cents = [[0.0] * 64, [1.0] * 64]
    plan = (_lloyd_assigned(df, cents, "embedding")
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" in plan
    assert "array_position" not in plan  # the literal-argmin shape
    # end-to-end on the same corpus, WITH a dirty row: a NULL
    # embedding must assign -1 and drop, not fail the iteration
    from pyspark.sql import functions as F

    dirty = df.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [(999999, None)], df.select("vec_id", "embedding").schema))
    cents2 = kmeans_lloyd(dirty, cents, iters=1)
    assert len(cents2) == 2 and len(cents2[0]) == 64
