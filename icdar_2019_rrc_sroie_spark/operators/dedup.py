"""Deduplication operators for training-data pipelines.

The full batch family: exact (hash-groupBy), MinHash+LSH (shingle →
per-seed min-hash → band → bucket equi-join), SimHash + Hamming
pigeonhole joins, n-gram Jaccard verification, winnowing fingerprints
(document-level AND positioned → substring-level ``dedup_spans``),
pairs → clusters → canonical via hash-min ``connected_components``,
and eval-set ``decontaminate``. The incremental/streaming face lives
in operators/incremental.py (same band-hash material — shared
constants below). All hash material is md5-based so results are
engine-portable (the DuckDB oracle computes identical signatures) and
independent of Spark's murmur seed.

Scale notes: candidate generation is a self-equi-join on (band_idx,
band_hash) — a shuffle join whose key cardinality grows with corpus
size, so no skew concentrator; the expensive Jaccard verification runs
only on candidates; every self-join has a logged bucket-cap guard.
Never a cross join. Arrays consumed by windowed lambdas are
materialized as columns first (HOF re-evaluation class — see
winnow_fingerprints).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .indexes import track_persist

logger = logging.getLogger(__name__)

# Memo for ensure_parallelism's width probe: df.rdd.getNumPartitions()
# forces a plan→RDD conversion on the driver (no job, but repeated
# analysis); one operator pipeline probes the same logical plan several
# times (minhash → bands → jaccard all start from the same scan), so
# the verdict is cached by (applicationId, semantic hash) — the app id
# is stable for the session's life and never reused the way id() of a
# GC'd session object can be. The memo only decides whether to ADD a
# spreading repartition — a stale entry can cost a redundant shuffle
# (false 'narrow') or lose parallelism on the CPU-hot projection it
# guards (false 'wide'), never correctness.
_WIDTH_MEMO: dict[tuple[str, int], bool] = {}


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a narrow input before a CPU-heavy projection.

    A small parquet scan yields few partitions; hash/shingle/simhash
    projections are then CPU-bound on those few tasks (measured: 4.5 s
    → 0.84 s for 10k-doc simhash at local[32]). Round-robin repartition
    to core count when the input is narrower. At real scale the scan
    already has ≥cores partitions and this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        key = (df.sparkSession.sparkContext.applicationId,
               df.semanticHash())
    except Exception:  # noqa: BLE001 — semanticHash unavailable: probe raw
        key = None
    narrow = _WIDTH_MEMO.get(key) if key is not None else None
    if narrow is None:
        narrow = df.rdd.getNumPartitions() < target
        if key is not None:
            if len(_WIDTH_MEMO) > 4096:
                _WIDTH_MEMO.clear()
            _WIDTH_MEMO[key] = narrow
    if narrow:
        return df.repartition(target)
    return df


def normalized_text(text: Column) -> Column:
    """Lowercase, whitespace-collapsed content (dedup canonical form)."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def fingerprint(text: Column) -> Column:
    """Exact-dup fingerprint: md5 of the canonical form."""
    return F.md5(normalized_text(text))


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep the smallest id per identical canonical text.

    The fingerprint projection is spread before the aggregate (r7):
    on a narrow scan the normalize+md5 pass ran on the 2-3 input
    partitions (2.2 s wall at sf0.1 in the composed pipelines); the
    min/count aggregate is order-free, so row placement is free to
    change. At real scale the scan is already wide and this is a
    no-op."""
    return (
        ensure_parallelism(df).withColumn(
            "fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_" + id_col),
            F.count(F.lit(1)).cast("long").alias("dup_cnt"),
        )
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles of the canonical text (duplicates kept: min-hash
    is dup-insensitive; the Jaccard path dedups at row level).

    Built with ``slice``+``zip_with`` so the expensive token split sits
    in HOF *argument* position (evaluated once per row) — placing it in
    a lambda body re-evaluates it per element (profiled: 17s → <1s for
    260k shingles).
    """
    toks = F.split(normalized_text(text), r"\s+")
    n = F.size(toks)
    m = F.greatest(n - (k - 1), F.lit(0))
    shifted = [F.slice(toks, i + 1, m) for i in range(k)]
    grams = shifted[0]
    for nxt in shifted[1:]:
        grams = F.zip_with(grams, nxt,
                           lambda a, b: F.concat_ws(" ", a, b))
    empty = F.array().cast("array<string>")
    return F.when(n >= k, grams).otherwise(empty)


def shingle_rows(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 3) -> DataFrame:
    """(id, shingle) rows — the exploded form used by MinHash/Jaccard."""
    return df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), k)).alias("shingle")
    )


# MinHash hash material shared by the batch path (minhash_signatures →
# lsh_bands) and the per-row/stream path (incremental.row_bands): band
# hashes from the two paths MUST stay joinable, so the constants and
# the per-hash digest-slice rule live here, once.
MINHASH_SECOND_DIGEST_PREFIX = "~"
MINHASH_BAND_SEP = "|"


def minhash_slice_expr(digest: Column, i: int) -> Column:
    """The slice rule of hash ``i``: 8 hex chars at offset 8*(i%4) of
    its source digest (d1 for i < 4, the prefixed d2 for i >= 4) —
    THE single source of truth shared by the batch aggregate and the
    per-row stream path."""
    return F.substring(digest, (i % 4) * 8 + 1, 8)


def band_hash_expr(sig_cols: list[Column]) -> Column:
    """One LSH band hash from its signature columns."""
    return F.md5(F.concat_ws(MINHASH_BAND_SEP, *sig_cols))


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_hashes: int = 8,
                       k: int = 3) -> DataFrame:
    """Per-document MinHash signature.

    One md5 per shingle; hash *i* is the 8-hex-char slice ``[8i, 8i+8)``
    of the digest (independent 32-bit values), extended with a second
    digest of the reversed-prefix when more than 4 hashes are needed.
    Lexicographic min per slice — deterministic, portable (the DuckDB
    oracle reproduces it), and a valid min-wise family for Jaccard
    estimation. Costs 1-2 md5 calls per shingle instead of
    ``num_hashes``.
    """
    assert num_hashes <= 8
    sh = shingle_rows(ensure_parallelism(df), id_col, text_col, k)
    digest1 = F.md5(F.col("shingle"))
    digest2 = F.md5(F.concat(F.lit(MINHASH_SECOND_DIGEST_PREFIX),
                             F.col("shingle")))
    sh = sh.select(id_col, digest1.alias("d1"),
                   *([digest2.alias("d2")] if num_hashes > 4 else []))
    aggs = []
    for i in range(num_hashes):
        src = F.col("d1") if i < 4 else F.col("d2")
        aggs.append(F.min(minhash_slice_expr(src, i)).alias(f"sig{i}"))
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(signatures: DataFrame, id_col: str = "doc_id",
              num_hashes: int = 8, rows_per_band: int = 2) -> DataFrame:
    """(id, band_idx, band_hash) rows for bucket-join candidate gen."""
    assert num_hashes % rows_per_band == 0
    bands = []
    for b in range(num_hashes // rows_per_band):
        cols = [F.col(f"sig{b * rows_per_band + r}")
                for r in range(rows_per_band)]
        bands.append(
            F.struct(F.lit(b).alias("band_idx"),
                     band_hash_expr(cols).alias("band_hash"))
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("band")
    ).select(id_col, "band.band_idx", "band.band_hash")


def cap_buckets(df: DataFrame, keys: list[str],
                max_bucket_size: int | None,
                label: str = "cap_buckets") -> DataFrame:
    """Shared LSH fan-out guard: drop rows belonging to a bucket (one
    distinct ``keys`` tuple) larger than the cap, BEFORE any self-join.
    A bucket of m rows emits Θ(m²) candidate pairs; buckets past the
    cap are degenerate mass (boilerplate, empty docs) whose dedup
    belongs to exact_dedup. Used by minhash_candidates,
    simhash_near_dups and similarity.embedding_near_dups.

    No silent caps, and no eager jobs either: the dropped-row count
    rides the caller's OWN first action via the Observation API (an
    ``observe`` on the pre-cap index costs nothing extra at execution)
    — constructing the DataFrame stays lazy, so plan-only uses and
    larger compositions pay nothing. Pending audits are drained by ONE
    shared non-blocking poller thread (see :func:`_audit_register`):
    it logs a WARNING when the metric lands, and quietly drops the
    audit when the plan is never executed or the session goes away —
    no per-call thread can block forever or raise through py4j after
    session teardown. The pre-cap index is persisted (via
    track_persist — release_indexes frees it; both join sides read
    it). With ``max_bucket_size=None`` the input is persisted
    unchanged — either way the caller must NOT re-persist.
    """
    if max_bucket_size is None:
        return track_persist(df)
    import uuid

    from pyspark.sql import Observation

    # r7 note: a groupBy+broadcast-join variant (map-side partials, no
    # per-key window shuffle) was measured and REJECTED — the extra
    # count pass + cache materialization cost more than the window at
    # every bench entry (semdedup 2.4→4.2 s, embedding_near_dups
    # 1.9→3.7 s, +20-30 driver jobs). The window's per-key skew only
    # bites when the key cardinality is tiny, which at corpus scale it
    # never is (bands/buckets grow with the corpus; semdedup's k grows
    # as n/target_cluster_size).
    bucket_sz = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    obs = Observation(f"cap_buckets:{label}:{uuid.uuid4().hex[:8]}")
    base = track_persist(
        df.withColumn("bucket_sz", bucket_sz)
        .observe(obs, F.sum(
            F.when(F.col("bucket_sz") > max_bucket_size, 1).otherwise(0)
        ).alias("dropped"))
    )
    out = base.filter(F.col("bucket_sz") <= max_bucket_size) \
        .drop("bucket_sz")
    _audit_register(obs, out, label, max_bucket_size)
    return out


# ---------------------------------------------------------------------------
# Cap-audit poller: one daemon drains ALL pending cap_buckets audits by
# polling the JVM Observation non-blockingly (getRowOrEmpty). The r4
# design spawned one thread per cap_buckets call that BLOCKED on
# Observation.get — a plan that never executed leaked a blocked thread
# forever, and a session stopped mid-action made the blocked call raise
# through py4j from a background thread (the one pytest warning of r4).
# ---------------------------------------------------------------------------

_AUDIT_GRACE_SEC = 30.0  # keep a GC'd-plan audit this long before dropping
_AUDIT_POLL_SEC = 0.25
_audit_lock = __import__("threading").Lock()
_audit_pending: list[dict] = []
_audit_thread = None


def _audit_register(obs, df: DataFrame, label: str, cap: int) -> None:
    import threading
    import weakref

    entry = {"jo": obs._jo, "ref": weakref.ref(df), "label": label,
             "cap": cap, "dead_since": None}
    global _audit_thread
    with _audit_lock:
        _audit_pending.append(entry)
        if _audit_thread is None or not _audit_thread.is_alive():
            _audit_thread = threading.Thread(
                target=_audit_poll_loop, daemon=True, name="cap-audit")
            _audit_thread.start()


def _audit_poll_loop() -> None:
    import time as _time

    global _audit_thread
    while True:
        with _audit_lock:
            pending = list(_audit_pending)
        done = []
        for e in pending:
            try:
                row = e["jo"].getRowOrEmpty()
                if row.isDefined():
                    n = row.get().getAs("dropped")
                    if n:
                        logger.warning(
                            "%s: max_bucket_size=%d dropped %d index "
                            "rows in over-cap buckets (degenerate mass "
                            "— identical-text dedup belongs to "
                            "exact_dedup)", e["label"], e["cap"], n)
                    done.append(e)
                    continue
            except Exception:  # noqa: BLE001 — session/JVM gone: drop
                done.append(e)
                continue
            if e["ref"]() is None:
                # capped DataFrame was GC'd without an action landing;
                # grace period covers "composed into a bigger plan then
                # dropped the intermediate before executing"
                if e["dead_since"] is None:
                    e["dead_since"] = _time.monotonic()
                elif _time.monotonic() - e["dead_since"] > _AUDIT_GRACE_SEC:
                    done.append(e)
        with _audit_lock:
            for e in done:
                if e in _audit_pending:
                    _audit_pending.remove(e)
            if not _audit_pending:
                _audit_thread = None
                return
        _time.sleep(_AUDIT_POLL_SEC)


def flush_cap_audits(timeout: float = 2.0) -> None:
    """Best-effort drain of pending cap audits (tests / clean teardown):
    waits up to ``timeout`` for the poller to log-and-clear whatever
    has landed, then force-drops the rest."""
    import time as _time

    deadline = _time.monotonic() + timeout
    while _time.monotonic() < deadline:
        with _audit_lock:
            if not _audit_pending:
                return
        _time.sleep(_AUDIT_POLL_SEC / 2)
    with _audit_lock:
        _audit_pending.clear()


def minhash_candidates(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_hashes: int = 8,
                       rows_per_band: int = 2, k: int = 3,
                       max_bucket_size: int | None = None) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via LSH banding.

    The bands table is persisted before the self-join — otherwise both
    join sides re-evaluate the full shingle+hash pipeline. At scale the
    bands table is the (small) index you would materialize anyway.

    ``max_bucket_size`` is the fan-out guard (same policy as
    simhash_near_dups / embedding_near_dups): a text repeated m times
    puts m rows in one band bucket and the self-join emits Θ(m²) pairs
    — measured 7k→172k candidates for a 4×-replicated corpus. Rows in
    buckets above the cap are dropped before the join; identical-text
    mass is exact_dedup/fingerprint's job, not LSH's.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, k)
    # cap_buckets persists the bands index (both join sides + the
    # dropped-row audit count read it)
    bands = cap_buckets(lsh_bands(sigs, id_col, num_hashes, rows_per_band),
                        ["band_idx", "band_hash"], max_bucket_size,
                        label="minhash_candidates")
    left = bands.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    right = bands.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3,
                  threshold: float = 0.8,
                  candidates: DataFrame | None = None,
                  max_shingle_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard (verification stage).

    ``candidates`` is the (id_a, id_b) pair set to verify — normally the
    output of :func:`minhash_candidates`. With it, the work is bounded
    by Σ|pair| × doc-size: pairs are expanded against the left side's
    shingles, then intersected with the right side via an equi-join on
    (id_b, shingle). Without it the operator falls back to the full
    shingle self-join — correct, but a hot shingle shared by m docs
    contributes m² rows, which is quadratic on a web corpus; only use
    the fallback for small slices or oracle parity.

    ``max_shingle_df`` drops shingles that occur in more than that many
    documents before *both* the size and intersection counts (standard
    document-frequency capping: boilerplate n-grams carry no dedup
    signal but dominate the join). Jaccard is then computed over the
    capped shingle universe — consistent numerator/denominator.
    """
    sh = shingle_rows(df, id_col, text_col, k).distinct()
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    if candidates is not None:
        pairs = candidates.select("id_a", "id_b")
        common = (
            pairs.join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        common = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = (
        common.join(sz_a, "id_a").join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("id_a", "id_b", "common", "sz_a", "sz_b", "jaccard")


def simhash_bit_sums(text: Column, num_bits: int = 64) -> Column:
    """Per-bit ±1 sums of the token set's hash bits — the expensive
    per-token pass of SimHash, exposed separately so callers can
    materialize it as a column before packing (see simhash_dedup).

    Per token: two independent 32-bit hashes from md5 hex slices (conv →
    long is exact for 32-bit values). Bit j is recovered with exact
    power-of-two floating division — 32-bit values and 2^j for j<32 are
    exact doubles. Pure Catalyst array algebra — no UDF.
    """
    assert num_bits in (32, 64)
    toks = F.array_distinct(F.split(normalized_text(text), r"\s+"))
    # token hashes in HOF argument position: evaluated once per row
    tok_hashes = F.transform(
        toks,
        lambda t: F.struct(
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10)
            .cast("double").alias("lo"),
            F.conv(F.substring(F.md5(t), 9, 8), 16, 10)
            .cast("double").alias("hi"),
        ),
    )
    bit_idx = F.array(*[F.lit(j) for j in range(num_bits)])
    init = F.array_repeat(F.lit(0), num_bits)

    def _bit(h: Column, j: Column) -> Column:
        half = F.when(j < 32, h["lo"]).otherwise(h["hi"])
        return F.pmod(F.floor(half / F.pow(F.lit(2.0), F.pmod(j, 32))), 2)

    # single pass over tokens, updating all bit counters per token
    return F.aggregate(
        tok_hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            bit_idx,
            lambda s, j: s
            + F.when(_bit(h, j) == 1, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )


def simhash64(text: Column, num_bits: int = 64) -> Column:
    """SimHash of the token set, as a bigint (32 or 64 bits) —
    expression form ``pack_simhash(simhash_bit_sums(...))``. The token
    pass is inlined into both 32-bit halves here (2×); prefer
    ``simhash_dedup``'s materialized-column form on DataFrames. The
    64-bit signature may be negative (shiftleft|OR packing);
    downstream word extraction must use ``shiftrightunsigned``."""
    return pack_simhash(simhash_bit_sums(text, num_bits), num_bits)


def pack_simhash(bit_sums: Column, num_bits: int = 64) -> Column:
    """Pack per-bit ±1 sums into the signed integer signature, per
    32-bit half (sums < 2^32 are exact doubles)."""
    def _half_sig(lo_bit: int) -> Column:
        weighted = F.zip_with(
            F.slice(bit_sums, lo_bit + 1, 32),
            F.array(*[F.lit(j) for j in range(32)]),
            lambda s, j: F.when(
                s > 0, F.pow(F.lit(2.0), j)).otherwise(F.lit(0.0)),
        )
        return F.aggregate(
            weighted, F.lit(0.0), lambda acc, v: acc + v
        ).cast("long")

    if num_bits == 32:
        return _half_sig(0)
    return F.shiftleft(_half_sig(32), 32).bitwiseOR(_half_sig(0))


def _simhash_kernel(id_col: str, num_bits: int):
    """Arrow-batch SimHash kernel (round 7 — same move as
    :func:`_winnow_kernel`, same motivation: the Catalyst HOF fold
    evaluated md5→hex→conv per token through the interpreted
    expression path, which degrades ~2-4× in JIT-polluted sessions).

    Bit-identity argument, matching ``simhash_bit_sums`` +
    ``pack_simhash`` exactly:

    * tokens: the canonical text is trim+lower+``\\s+``-collapsed
      JVM-side, so Java ``split('\\s+')`` reduces to splitting on
      single spaces — ``str.split(' ')`` reproduces it including the
      leading/trailing-empty-token edges (a ``\\t``-leading doc
      normalizes to a leading space; both engines then emit an empty
      first token). ``array_distinct`` → ``set``.
    * per token: ``lo``/``hi`` = md5 digest bytes [0,4) / [4,8) as
      uint32 — identical to hex-slice → ``conv`` → double (exact for
      32-bit values).
    * bit j of each half via integer shifts — identical to the exact
      power-of-two floor division; per-bit ±1 sums are integers, and
      the packed signature Σ 2^j over positive bits (distinct powers
      of two < 2^32, exact in double there, exact ints here), hi half
      shifted into the sign bit exactly as ``shiftleft``.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    def kernel(batches):
        md5 = hashlib.md5
        from_bytes = int.from_bytes
        half_bits = min(num_bits, 32)
        weights_lo = (np.uint64(1) << np.arange(half_bits,
                                                dtype=np.uint64))
        shifts = np.arange(half_bits, dtype=np.uint32)
        for pdf in batches:
            sigs: list = []
            for nt in pdf["_nt"].values:
                if nt is None:
                    sigs.append(None)
                    continue
                toks = set(nt.split(" "))
                n = len(toks)
                los = np.empty(n, dtype=np.uint32)
                his = np.empty(n, dtype=np.uint32)
                for i, t in enumerate(toks):
                    d = md5(t.encode("utf-8")).digest()
                    los[i] = from_bytes(d[0:4], "big")
                    his[i] = from_bytes(d[4:8], "big")
                pos_lo = ((los[:, None] >> shifts) & 1).sum(axis=0)
                sig = int(weights_lo[2 * pos_lo > n].sum())
                if num_bits == 64:
                    pos_hi = ((his[:, None] >> shifts) & 1).sum(axis=0)
                    hi_sig = int(weights_lo[2 * pos_hi > n].sum())
                    sig |= hi_sig << 32
                    if sig >= 1 << 63:
                        sig -= 1 << 64
                sigs.append(sig)
            out = pdf[[id_col]].copy()
            out["simhash"] = pd.array(sigs, dtype="Int64")
            yield out

    return kernel


def simhash_dedup(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  num_bits: int = 64) -> DataFrame:
    """(id, simhash) — near-dup buckets collide on identical simhash.

    Normalization runs once per doc JVM-side; the per-token md5 /
    bit-sum / packing pass runs in one Arrow batch kernel
    (:func:`_simhash_kernel` documents the bit-identity argument vs
    the retired Catalyst HOF fold, which remains available as the
    expression form ``simhash64``)."""
    base = ensure_parallelism(df).select(
        F.col(id_col), normalized_text(F.col(text_col)).alias("_nt"))
    schema = "{} {}, simhash long".format(
        id_col, base.schema[id_col].dataType.simpleString())
    return base.mapInPandas(_simhash_kernel(id_col, num_bits), schema)


def simhash_near_dups(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", max_hamming: int = 3,
                      num_bits: int = 64, n_words: int = 4,
                      max_bucket_size: int | None = None) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: the signature splits into ``n_words`` words; any
    pair within ``max_hamming < n_words`` bit flips must agree on at
    least one whole word, so candidates come from ``n_words`` exact
    equi-joins (never a cross join); ``bit_count(xor)`` verifies. The
    words index is persisted before the self-join (see
    minhash_candidates).

    Scale parameterization: word width is ``num_bits / n_words``; a
    bucket join emits ~n²/2^width pairs per word for random signatures,
    so words must be wide — the 64-bit/4-word default gives 16-bit
    words (65k buckets per word index). ``max_bucket_size`` is the
    guard for pathological buckets (e.g. empty documents hashing to
    0): bucket rows in buckets larger than the cap are dropped before
    the self-join, trading bounded recall loss for a hard upper bound
    on join fan-out. Word extraction uses ``shiftrightunsigned`` —
    64-bit signatures can be negative.
    """
    assert max_hamming < n_words
    assert num_bits % n_words == 0
    word_bits = num_bits // n_words
    sigs = simhash_dedup(df, id_col, text_col, num_bits)
    words = []
    for w in range(n_words):
        words.append(
            F.struct(
                F.lit(w).alias("word_idx"),
                F.shiftrightunsigned(F.col("simhash"), w * word_bits)
                .bitwiseAND(F.lit((1 << word_bits) - 1)).alias("word"),
            )
        )
    exploded = sigs.select(
        id_col, "simhash", F.explode(F.array(*words)).alias("wd")
    ).select(id_col, "simhash", "wd.word_idx", "wd.word")
    exploded = cap_buckets(exploded, ["word_idx", "word"],
                           max_bucket_size, label="simhash_near_dups")
    left = exploded.select(F.col(id_col).alias("id_a"),
                           F.col("simhash").alias("sig_a"),
                           "word_idx", "word")
    right = exploded.select(F.col(id_col).alias("id_b"),
                            F.col("simhash").alias("sig_b"),
                            "word_idx", "word")
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        left.join(right, ["word_idx", "word"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# GPT-style pretokenizer approximation, lookahead-free so both Spark
# (Java regex) and DuckDB (RE2) evaluate it identically: optional-space
# letter runs, digit runs, punctuation runs, residual whitespace.
BPE_TOKEN_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count (pretokenizer granularity — the unit a BPE
    vocabulary would split further)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0))


def _winnow_kernel(id_col: str, k: int, window: int,
                   with_positions: bool):
    """Arrow-batch winnow kernel (guide §4.2: hand whole batches to
    native code). Per doc: md5 every char k-gram of the canonical
    text (``hashlib`` — C md5, identical digests to the engines'
    ``md5``), slide a ``window``-wide view, keep each window's
    minimum with its FIRST in-window position (``np.argmin`` returns
    the first minimum — the same tie-break as ``array_position``),
    dedup. Fingerprint value = first 8 md5 hex chars as an int =
    ``int.from_bytes(digest[:4], 'big')`` — bit-identical to the
    previous Catalyst ``conv(substring(md5(..), 1, 8), 16, 10)``
    (parity pinned by tests/test_dedup_similarity.py).

    Replaced the interpreted-HOF Catalyst form in round 7: the HOF
    transform evaluated md5→hex→conv→cast per element through the
    interpreted expression path, ~0.9 s/corpus-pass wall in a fresh
    JVM at sf0.1 but up to 13-17 s REPRODUCIBLY once other HOF-heavy
    queries had run in the same JVM (JIT profile pollution of the
    shared interpreted-eval call sites — exactly the state a long
    battery session is in). The hashlib kernel measures 0.52 s in
    either state.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    def kernel(batches):
        md5 = hashlib.md5
        from_bytes = int.from_bytes
        for pdf in batches:
            ids_out: list = []
            fps_out: list = []
            pos_out: list = []
            for did, nt in zip(pdf[id_col].values, pdf["_nt"].values):
                if nt is None:
                    continue
                n = len(nt)
                m = n - (k - 1)
                if m < 1:
                    continue
                fps = np.empty(m, dtype=np.int64)
                enc = nt.encode("utf-8")
                if len(enc) == n:  # pure-ASCII: hash byte slices, no
                    mv = memoryview(enc)  # per-gram str slice + encode
                    for i in range(m):
                        fps[i] = from_bytes(
                            md5(mv[i:i + k]).digest()[:4], "big")
                else:  # chars ≠ bytes: slice by chars, encode per gram
                    for i in range(m):
                        fps[i] = from_bytes(
                            md5(nt[i:i + k].encode("utf-8")).digest()[:4],
                            "big")
                w_eff = window if m >= window else m
                sl = np.lib.stride_tricks.sliding_window_view(fps, w_eff)
                rel = np.argmin(sl, axis=1)
                mins = sl[np.arange(sl.shape[0]), rel]
                if with_positions:
                    pos = rel + np.arange(sl.shape[0]) + 1  # 1-based
                    pairs = np.unique(np.stack([mins, pos], axis=1),
                                      axis=0)
                    ids_out.extend([did] * pairs.shape[0])
                    fps_out.append(pairs[:, 0])
                    pos_out.append(pairs[:, 1])
                else:
                    uniq = np.unique(mins)
                    ids_out.extend([did] * uniq.shape[0])
                    fps_out.append(uniq)
            cols = {id_col: ids_out,
                    "fp": np.concatenate(fps_out) if fps_out else []}
            if with_positions:
                cols["pos"] = (np.concatenate(pos_out)
                               if pos_out else [])
            yield pd.DataFrame(cols)

    return kernel


def _winnow_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Shared winnow input: spread the (usually narrow) scan, run the
    normalization regex ONCE per doc JVM-side, and ship only (id,
    canonical text) into the Python kernel (guide §4.1: pass only the
    columns the function needs)."""
    return ensure_parallelism(df).select(
        F.col(id_col), normalized_text(F.col(text_col)).alias("_nt"))


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 5,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken —
    the rolling-hash fingerprinting family): hash every char k-gram of
    the canonical text, slide a window of ``window`` hashes, keep each
    window's minimum, dedup. Guarantees any shared substring of length
    ≥ k + window - 1 yields a shared fingerprint — the containment
    detector exact dedup and shingle Jaccard can't provide.

    Output: (id, fp) rows; docs shorter than ``k`` contribute nothing.
    Fingerprints are md5-slice ints — engine-portable, identical in
    the DuckDB oracle — computed in an Arrow batch kernel
    (:func:`_winnow_kernel` documents the round-7 move off the
    interpreted Catalyst HOF form and the bit-identity argument).
    """
    base = _winnow_base(df, id_col, text_col)
    schema = "{} {}, fp long".format(
        id_col, base.schema[id_col].dataType.simpleString())
    return base.mapInPandas(
        _winnow_kernel(id_col, k, window, with_positions=False), schema)


def winnow_fingerprint_positions(df: DataFrame, id_col: str = "doc_id",
                                 text_col: str = "text", k: int = 5,
                                 window: int = 4) -> DataFrame:
    """Winnowing fingerprints WITH character positions: like
    :func:`winnow_fingerprints` but each selected fingerprint carries
    the 1-based start offset (in the canonical text) of the k-gram it
    hashes — the piece span-level dedup needs that document-level
    fingerprinting doesn't.

    Per window the minimum gram hash is selected together with its
    FIRST position in the window (``np.argmin`` — first minimum, the
    same tie-break both engines' ``array_position`` used). Output:
    distinct (id, fp, pos) rows. Same Arrow kernel as
    :func:`winnow_fingerprints` (see :func:`_winnow_kernel`).
    """
    base = _winnow_base(df, id_col, text_col)
    schema = "{} {}, fp long, pos long".format(
        id_col, base.schema[id_col].dataType.simpleString())
    return base.mapInPandas(
        _winnow_kernel(id_col, k, window, with_positions=True), schema)


def dedup_spans(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", k: int = 20, window: int = 8,
                gap: int | None = None) -> DataFrame:
    """Substring-level dedup (remove-duplicated-passages): excise
    passages that also appear in a lower-id document, keeping each
    passage's single canonical copy — the within-document counterpart
    of document-level dedup (pretraining pipelines run both: a doc
    that survives near-dup filtering can still quote a boilerplate
    paragraph thousands of other docs carry).

    Mechanics: winnowing fingerprints with positions (any shared
    substring of ≥ k+window-1 canonical chars shares a fingerprint) →
    per-fingerprint canonical owner = min doc id → every fingerprint
    occurrence in a NON-owner doc marks span [pos, pos+k-1] as
    duplicated → per-doc interval merge with ``gap`` tolerance
    (winnowing samples the duplicated region every ~window chars, so
    nearby matched spans belong to one passage; default gap =
    k + window) → the merged spans are cut out of the canonical text.

    Scale shape: one linear fingerprint pass, one hash-agg (owner per
    fp), one equi-join on fp (fan-out linear in occurrences — a
    boilerplate fp shared by m docs joins m occurrence rows to one
    owner row), one per-doc window for the interval merge, one join
    back to the corpus on id. No self-join, nothing quadratic.

    Returns one row per document that had at least one duplicated
    span: (id, n_dup_spans, dup_chars, spans, redacted) where
    ``spans`` is "s-e;s-e;…" over merged 1-based inclusive char
    intervals of the canonical text and ``redacted`` is the canonical
    text with those intervals removed.
    """
    if gap is None:
        gap = k + window
    # The positioned-fingerprint table feeds TWO consumers (the
    # per-fp owner aggregate and the occurrence join below); Spark
    # does no cross-operator CSE, so without a persist the whole
    # normalize+md5 winnow kernel executes once per consumer — the
    # event log showed 2-4 MapInPandas stages per dedup_spans run
    # inside the curation pipeline (r7). The table is a few narrow
    # (id, fp, pos) rows per winnow window — tiny next to the corpus.
    occ = track_persist(
        winnow_fingerprint_positions(df, id_col, text_col, k, window))
    owners = occ.groupBy("fp").agg(F.min(id_col).alias("_owner"))
    # occurrences in non-owner docs (doc > owner ⟹ the fp is shared
    # with at least one other doc, or repeated inside this one with a
    # lower-id twin — either way this doc's copy is not canonical)
    dup = (
        occ.join(owners, "fp")
        .filter(F.col(id_col) > F.col("_owner"))
        .select(id_col, F.col("pos").alias("s"),
                (F.col("pos") + (k - 1)).alias("e"))
        .distinct()
    )
    w = Window.partitionBy(id_col).orderBy("s", "e")
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = dup.withColumn(
        "_new", F.when(prev_max.isNull()
                       | (F.col("s") > prev_max + gap), 1).otherwise(0))
    islands = flagged.withColumn(
        "_isl", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    merged = (
        islands.groupBy(id_col, "_isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    ivs = (
        merged.groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ivs"))
    )
    norm = normalized_text(F.col(text_col))
    n = F.length(norm)
    joined = df.select(F.col(id_col), norm.alias("_nt"), n.alias("_n")) \
        .join(ivs, id_col)
    # complement segments: keep [1, s1-1], [e1+1, s2-1], …, [eL+1, n]
    starts = F.concat(F.array(F.lit(1).cast("long")),
                      F.transform("ivs", lambda iv: iv["e"] + 1))
    ends = F.concat(F.transform("ivs", lambda iv: iv["s"] - 1),
                    F.array(F.col("_n").cast("long")))
    kept = F.zip_with(
        starts, ends,
        lambda s, e: F.col("_nt").substr(
            s.cast("int"), F.greatest(e - s + 1, F.lit(0)).cast("int")))
    return joined.select(
        F.col(id_col),
        F.size("ivs").cast("long").alias("n_dup_spans"),
        F.aggregate("ivs", F.lit(0).cast("long"),
                    lambda acc, iv: acc + (iv["e"] - iv["s"] + 1))
        .alias("dup_chars"),
        F.array_join(
            F.transform("ivs",
                        lambda iv: F.concat_ws("-", iv["s"], iv["e"])),
            ";").alias("spans"),
        F.concat_ws("", kept).alias("redacted"),
    )


def connected_components(edges: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iterations: int = 25) -> DataFrame:
    """Connected components over an undirected pair list — the step
    that turns near-dup PAIRS into dedup CLUSTERS (a MinHash/SimHash
    candidate list is transitive only through its components: A~B and
    B~C must collapse to one keep-decision even when A~C was never a
    candidate pair).

    Hash-min label propagation: every node starts labeled with its own
    id; each round every node takes the min label across itself and
    its neighbors; at fixpoint the label IS the component's minimum
    node id (deterministic canonical representative for free). Each
    round is one equi-join + one min-aggregate — both plain shuffles
    on node id, no driver-side graph. Rounds needed = graph diameter.
    Near-dup clusters are shallow (duplicates of common content link
    through hub shinglings), so the fixpoint lands in a handful of
    rounds; a pathological chain longer than ``max_iterations`` raises
    rather than silently returning half-merged clusters (same
    fail-loud policy as the LSH bucket-size guards). Plan lineage is
    truncated per round: when the session has a checkpoint dir
    configured (``setCheckpointDir`` on real clusters) the label table
    round-trips through two alternating parquet dirs under it —
    executor loss cannot drop it, storage stays bounded at two copies,
    the stale copy is deleted on convergence, and the surviving label
    dir is registered with ``indexes.track_scratch_dir`` so the
    caller's next ``release_indexes()`` removes it entirely (no
    unbounded cc-* accumulation across a long-lived session); without
    one, ``localCheckpoint`` (fine for local mode).

    Convergence is detected by the label-sum invariant: labels only
    ever decrease, so the per-round sum (exact DECIMAL(38,0) — no
    long overflow at any corpus size) is strictly decreasing until
    the fixpoint. One extra aggregate per round, no join.

    Returns (node, component) for every node that appears in ``edges``
    — singletons never enter a pair list and are their own canonical
    by definition.
    """
    # track_persist (not raw persist): release_indexes() frees the edge
    # index even when the round bound raises below
    sym = track_persist(
        edges.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionAll(edges.select(F.col(id_b).alias("u"),
                               F.col(id_a).alias("v")))
        .distinct()
    )
    spark = edges.sparkSession
    ckpt_dir = spark.sparkContext.getCheckpointDir()
    if ckpt_dir is not None:
        # Reliable mode: label-table round trips through TWO alternating
        # parquet dirs under the checkpoint dir — store-agnostic
        # (HDFS/S3 via the Spark write path), bounded at two table
        # copies during the run (df.checkpoint() files are never GC'd
        # by default and would grow per round), and the write consumes
        # the round's computation exactly once (no eager-checkpoint
        # double job). The stale copy is deleted on convergence; the
        # final labels stay backed by one dir under <ckpt>/cc-*.
        import uuid

        from .indexes import track_scratch_dir

        base = f"{ckpt_dir.rstrip('/')}/cc-{uuid.uuid4().hex}"
        # deferred cleanup: the surviving label dir (and, on the error
        # path, everything under cc-*) is deleted at the caller's next
        # release_indexes() — long-lived sessions running many CC jobs
        # no longer accumulate unbounded checkpoint storage
        track_scratch_dir(spark, base)
        state = {"round": 0}

        def _ckpt(df):
            p = f"{base}/round-{state['round'] % 2}"
            df.write.mode("overwrite").parquet(p)
            state["round"] += 1
            return spark.read.parquet(p)
    else:

        def _ckpt(df):
            # lazy: materializes inside the round's convergence-sum
            # collect instead of one eager job per round — halves the
            # driver jobs of the fixpoint loop (r7; same fusion as the
            # BPE trainer's state checkpoints)
            return df.localCheckpoint(eager=False)

    # r7: start from the ROUND-1 state directly — the identity labeling
    # propagated once is min(self, min(neighbors)), which is one
    # aggregate over the symmetric edge table with no join (the old
    # identity init spent a full join+checkpoint round computing
    # exactly this). Every node of sym appears as `u` (sym is
    # symmetric), so the node set is identical.
    labels = _ckpt(
        sym.groupBy("u").agg(F.min("v").alias("_mv"))
        .select(F.col("u").alias("node"),
                F.least(F.col("u"), F.col("_mv")).alias("lbl"))
    )
    dec = F.sum(F.col("lbl").cast("decimal(38,0)"))
    prev_sum = labels.agg(dec).collect()[0][0]
    converged = prev_sum is None  # no edges -> nothing to propagate
    for _ in range(max_iterations):
        if converged:
            break
        msgs = sym.join(labels, sym["v"] == labels["node"]).select(
            F.col("u").alias("node"), "lbl")
        new = _ckpt(
            labels.unionAll(msgs)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
        cur_sum = new.agg(dec).collect()[0][0]
        labels = new
        converged = cur_sum == prev_sum
        prev_sum = cur_sum
    if not converged:
        raise ValueError(
            f"connected_components: no fixpoint after {max_iterations} "
            "rounds — component diameter exceeds the bound; raise "
            "max_iterations (rounds are cheap) or switch to a "
            "star-contraction variant for adversarially deep graphs")
    sym.unpersist()  # happy path frees eagerly; error path -> release_indexes
    if ckpt_dir is not None:
        # drop the stale alternating copy (the slot the NEXT write
        # would have used); the returned labels stay backed by the
        # other one until release_indexes() deletes the whole cc-* dir.
        from .indexes import _delete_path

        _delete_path(spark, f"{base}/round-{state['round'] % 2}")
    return labels.select("node", F.col("lbl").alias("component"))


def dedup_clusters(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", num_hashes: int = 8,
                   rows_per_band: int = 2, k: int = 3,
                   max_iterations: int = 25,
                   max_bucket_size: int | None = None) -> DataFrame:
    """End-to-end dedup decision: MinHash-LSH candidate pairs →
    connected components → one canonical doc per cluster (the
    component's min id — deterministic, no tie-break shuffle).

    Output: (id, cluster_id, is_canonical) for every doc implicated in
    at least one candidate pair; docs absent from the output are
    singletons and kept by definition. Downstream keep-filter:
    ``corpus.join(clusters.filter(~is_canonical), id, "left_anti")``.
    """
    cands = minhash_candidates(df, id_col, text_col, num_hashes,
                               rows_per_band, k, max_bucket_size)
    cc = connected_components(cands, max_iterations=max_iterations)
    return cc.select(
        F.col("node").alias(id_col),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


def decontaminate(corpus: DataFrame, eval_set: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  eval_text_col: str = "text", k: int = 8) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word ``k``-gram with an evaluation set (the standard pre-training
    hygiene pass — eval questions quoted verbatim in a training doc
    inflate benchmark scores).

    The eval side is tiny by nature → its distinct k-gram hashes
    broadcast into a semi-join against the corpus's exploded k-gram
    hashes: one scan of the corpus, no shuffle of the corpus side
    beyond the final per-doc count. Returns (id, n_hits) for
    contaminated docs only; the keep-filter is a broadcast anti-join
    on the result.
    """
    def gram_hashes(df, text_c, *keep):
        return df.select(
            *keep, F.explode(word_shingles(F.col(text_c), k)).alias("_g")
        ).select(*keep, F.xxhash64("_g").alias("_gh"))

    eval_hashes = gram_hashes(eval_set, eval_text_col).distinct()
    # ensure_parallelism: the corpus-side k-gram explode is the CPU-hot
    # projection here; a narrow scan (small files, post-filter
    # coalesce) would otherwise run it single-task (observed (0+1)/1
    # stages at sf0.1 — every sibling operator already pre-spreads)
    corpus_hits = gram_hashes(
        ensure_parallelism(corpus.select(F.col(id_col).alias("_id"),
                                         text_col)),
        text_col, "_id",
    ).join(F.broadcast(eval_hashes), "_gh", "left_semi")
    return (
        corpus_hits.groupBy("_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        .select(F.col("_id").alias(id_col), "n_hits")
    )
